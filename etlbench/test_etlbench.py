"""Self-tests of the benchmark; no Spark session is started.

Run from the repository root: ``python3 -m pytest etlbench -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _digest(root: str, names: list[str], mtimes: bool = True) -> str:
    """Hash of the files' names and bytes, and of their mtimes, which the
    export generator sets from the simulated day."""
    h = hashlib.sha256()
    for name in sorted(names):
        h.update(name.encode())
        with open(os.path.join(root, name), "rb") as fh:
            h.update(fh.read())
        if mtimes:
            h.update(repr(os.path.getmtime(os.path.join(root, name))).encode())
    return h.hexdigest()


def _generate(tmp_path, name: str, seed: int) -> tuple[str, gen.Exports]:
    root = str(tmp_path / name)
    return root, gen.generate(root, seed, days=3, scenes_per_file=30, sessions_per_file=6)


@pytest.fixture
def small_exports(monkeypatch):
    """Workloads built in a test generate tiny export files."""
    monkeypatch.setattr(workloads, "SCENES_PER_FILE", 30)
    monkeypatch.setattr(workloads, "SESSIONS_PER_FILE", 6)


def test_generator_is_deterministic_per_seed(tmp_path):
    (ra, a), (rb, b) = _generate(tmp_path, "a", 5), _generate(tmp_path, "b", 5)
    assert _digest(ra, [f.name for f in a.files]) == _digest(rb, [f.name for f in b.files])
    assert a.keys_through("IRMQ", 2).equals(b.keys_through("IRMQ", 2))


def test_generator_differs_across_seeds(tmp_path):
    (ra, a), (rb, b) = _generate(tmp_path, "a", 5), _generate(tmp_path, "b", 6)
    assert _digest(ra, [f.name for f in a.files]) != _digest(rb, [f.name for f in b.files])
    assert not a.keys_through("IRMQ", 2).equals(b.keys_through("IRMQ", 2))


def test_generator_shapes_the_edge_cases(tmp_path):
    root, ex = _generate(tmp_path, "a", 9)
    irmq = pa.concat_tables(
        [pq.read_table(os.path.join(root, f.name), columns=[n for n, _ in gen.IRMQ_FIELDS[:7]])
         for f in ex.files if f.kind == "IRMQ"]
    ).to_pylist()
    keys = [(r["SessionUID"], r["SceneUID"]) for r in irmq]
    assert len(set(keys)) < len(keys)  # duplicate primary keys
    assert any(r["EvidenceImageURL"] == "" for r in irmq)
    assert any("," in r["EvidenceImageName"] for r in irmq)
    assert any(r["CreatedOnTime"] is None for r in irmq)
    assert {f.day for f in ex.files} == {0, 1, 2}
    assert all(os.path.getmtime(os.path.join(root, f.name)) == f.mtime for f in ex.files)
    kept = {f"{s}|{c}" for r in irmq for s, c in [(r["SessionUID"], r["SceneUID"])] if r["EvidenceImageURL"]}
    assert set(ex.keys_through("IRMQ", 2).to_pylist()) == kept


def test_star_schema_is_deterministic_and_its_keys_resolve(tmp_path):
    rows = gen.generate_star(str(tmp_path / "a"), 7, 3000)
    gen.generate_star(str(tmp_path / "b"), 7, 3000)
    gen.generate_star(str(tmp_path / "c"), 8, 3000)
    names = [f"{t}.parquet" for t in gen.STAR_TABLES]
    a, b, c = (_digest(str(tmp_path / d), names, mtimes=False) for d in "abc")
    assert a == b != c
    t = {n: pq.read_table(str(tmp_path / "a" / f"{n}.parquet")) for n in gen.STAR_TABLES}
    assert rows["lineitem"] == 4 * rows["orders"] == 12000
    for child, col, parent, key in (
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ):
        assert pc.all(pc.is_in(t[child][col], value_set=t[parent][key].combine_chunks())).as_py()


def test_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_tail_reports_the_percentile_it_used():
    assert run.tail([1.0, 3.0, 2.0]) == (3.0, "max")
    walls = [float(i) for i in range(1, 101)]
    assert run.tail(walls) == (90.0, "p90")


class _WrongLoad(workloads.DailyLookbackLoad):
    """A load whose sink appends nothing: every output check must fail."""

    def load(self, day):
        self.scanned = ()
        return 0, 0


def test_wrong_output_counts_as_failed(tmp_path, small_exports):
    wl = _WrongLoad(str(tmp_path / "w"), 3, rounds=2)
    bench = run.Bench(run.parse_args(["--workload", "daily_lookback_load", "--seed", "3", "--seconds", "1"]))
    bench.run_ops(wl, wl.warm_up_ops())
    for r in range(2):
        bench.run_ops(wl, wl.round(r))
    bench.count_op(wl.check_final())
    assert (bench.attempted, bench.failed) == (4, 4)
    assert "missing" in bench.errors[-1]


def test_a_raising_op_stops_a_load(tmp_path, small_exports):
    class Broken(_WrongLoad):
        def load(self, day):
            raise RuntimeError("sink down")

    wl = Broken(str(tmp_path / "w"), 3, rounds=2)
    bench = run.Bench(run.parse_args(["--workload", "daily_lookback_load", "--seed", "3", "--seconds", "1"]))
    with pytest.raises(run.Aborted):
        bench.run_ops(wl, wl.round(0) + wl.round(1))
    assert (bench.attempted, bench.failed) == (1, 1)


def test_final_check_catches_a_missing_key(tmp_path, small_exports):
    wl = workloads.StreamIngest(str(tmp_path / "w"), 4, rounds=1)
    wl.loaded_through = 2
    keys = [k.split("|") for k in wl.exports.keys_through("IRMQ", 2).to_pylist()]
    os.makedirs(wl.ev)
    table = pa.table({"sessionuid": [k[0] for k in keys], "sceneuid": [k[1] for k in keys]})
    target = os.path.join(wl.ev, "part-0.parquet")
    pq.write_table(table, target)
    assert wl.check_final() is None
    pq.write_table(table.slice(1), target)
    assert "1 missing" in wl.check_final()
    pq.write_table(pa.concat_tables([table, table.slice(0, 2)]), target)
    assert "2 duplicate keys" in wl.check_final()


def test_unknown_workload_is_refused():
    with pytest.raises(SystemExit):
        run.parse_args(["--workload", "nope", "--seed", "1", "--seconds", "1"])


def test_fails_without_the_engine(tmp_path):
    """Next to nothing but the benchmark, a run exits non-zero and prints no result."""
    shutil.copytree(HERE, tmp_path / "etlbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "etlbench/run.py", "--workload", "stream_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
