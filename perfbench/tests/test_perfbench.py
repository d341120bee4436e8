"""Self-tests of the benchmark: parser, checks, comparison and a smoke run.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (about a minute per run at 4 cores); the
others run in seconds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import compare  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402

DATA = os.path.join(HERE, "data")


def _recorded_phases(with_run_ids: bool = True) -> tracing.PhaseLog:
    with open(os.path.join(DATA, "phases.json")) as fh:
        ph = json.load(fh)
    phases = tracing.PhaseLog()
    phases.windows = [(s, e, tuple(k)) for s, e, k in ph["windows"]]
    if with_run_ids:
        phases.run_phase = {r: tuple(k) for r, k in ph["run_phase"].items()}
    return phases


def _parse(phases: tracing.PhaseLog) -> dict:
    with open(os.path.join(DATA, "eventlog.jsonl")) as fh:
        return tracing.parse_event_log(fh, phases)


def test_event_log_counts_per_phase_job_group():
    # Recorded at local[2]: "agg" counts in its construct phase and runs
    # a two-stage aggregate in exec; "udf" runs a pandas UDF; "drain"
    # writes its source and drains a stream inside construct, whose
    # micro-batch job carries the query's run id as job group.
    c = _parse(_recorded_phases())
    assert set(c) == {
        (1, "agg", "construct"), (1, "agg", "exec"),
        (1, "udf", "exec"), (1, "drain", "construct"),
    }
    agg = c[(1, "agg", "exec")]
    assert (agg["jobs"], agg["stages"], agg["tasks"]) == (2, 2, 3)
    assert agg["shuffle_write_b"] > 0 and agg["shuffle_read_b"] == agg["shuffle_write_b"]
    assert c[(1, "agg", "construct")]["jobs"] == 2
    udf = c[(1, "udf", "exec")]
    assert udf["py_run_ms"] > 0 and udf["py_bytes_sent"] > 0 and udf["py_bytes_returned"] > 0
    assert "py_run_ms" not in agg
    drain = c[(1, "drain", "construct")]
    assert drain["jobs"] == 2 and drain["write_b"] > 0 and drain["scan_b"] > 0
    for counters in c.values():
        assert 0 < counters["job_s"] <= counters["task_s"] + counters["job_s"]
        assert sum(len(s) for s in counters["stage_task_s"]) == counters["tasks"]


def test_unmapped_streaming_job_falls_back_to_its_phase_window():
    c = _parse(_recorded_phases(with_run_ids=False))
    assert c[(1, "drain", "construct")]["jobs"] == 2


def test_group_ids_round_trip():
    key = (3, "q01_pricing_summary", "exec")
    assert tracing.parse_group(tracing.group_id(key)) == key
    assert tracing.parse_group("0b8c-run-id") is None
    assert tracing.parse_group(None) is None


def test_task_skew_and_interval_union():
    assert tracing.task_skew([[1.0, 1.0, 3.0], [2.0, 2.0], [5.0]]) == pytest.approx(2.0)
    assert tracing.task_skew([[4.0]]) == 1.0
    assert tracing._union_s([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0


def test_tail_percentile_leaves_ten_samples_above():
    import run

    assert run.tail_percentile(15) == 50
    for n in (21, 30, 39, 100):
        pct = run.tail_percentile(n)
        values = list(range(1, n + 1))
        tail = run.percentile(values, pct)
        assert sum(v > tail for v in values) >= run.TAIL_BEYOND
        assert sum(v > run.percentile(values, pct + 1) for v in values) < run.TAIL_BEYOND
    assert run.percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_tree_is_a_function_of_the_seed():
    assert gen.make_tree(7, 2, 30) == gen.make_tree(7, 2, 30) != gen.make_tree(8, 2, 30)


@pytest.mark.parametrize("tables", ["sf0.1", "sf0.001"])
def test_tables_match_their_manifest(tables, tmp_path):
    import shutil

    import run

    src = os.path.join(BENCH, "data", tables)
    with open(os.path.join(src, "SHA256SUMS")) as fh:
        names = {line.split()[1] for line in fh}
    assert names == {f"{t}.parquet" for t in check.TABLES}
    digest = run.verify_tables(src)
    dst = tmp_path / tables
    shutil.copytree(src, dst)
    assert run.verify_tables(str(dst)) == digest
    with open(dst / "region.parquet", "r+b") as fh:
        fh.seek(100)
        byte = fh.read(1)
        fh.seek(100)
        fh.write(bytes([byte[0] ^ 1]))
    with pytest.raises(ValueError, match="region.parquet"):
        run.verify_tables(str(dst))


def test_rows_per_s_counts_only_refresh_time():
    import run

    records = [
        {"op": "q", "pass": p, "construct_s": 0.1, "exec_s": 5.0, "counts": {}} for p in (1, 2, 3)
    ] + [
        {"op": "refresh_t0", "pass": p, "construct_s": 0.5, "exec_s": s, "counts": {"sinks.rows": 100}}
        for p, s in ((1, 1.5), (2, 1.5), (3, 0.5))
    ]
    assert run.rows_per_s(records, [1, 2, 3]) == pytest.approx(100.0)
    assert run.rows_per_s(records, [1, 2]) == pytest.approx(50.0)


def _reflatten(records) -> list[list[str]]:
    con = duckdb.connect()
    rows = con.execute(check._reflatten_sql(), [json.dumps(records)]).fetchall()
    return [[str(c) for c in r] for r in rows]


def test_tree_row_count_matches_the_independent_reflatten():
    for records in gen.make_tree(3, 3, 40):
        assert len(_reflatten(records)) == gen.tree_rows(records)


def test_refresh_check_rejects_changed_or_missing_cells():
    from sports_betting_data_pipeline_spark.plans import ORACLES

    checker = check.Checker(ROOT, os.path.join(BENCH, "data", "sf0.001"), ORACLES)
    records = gen.make_tree(1, 1, 20)[0]
    rows = _reflatten(records)
    assert checker.refresh(records, rows) == (True, "")
    changed = [list(r) for r in rows]
    changed[0][20] = "999"
    assert checker.refresh(records, changed)[0] is False
    assert checker.refresh(records, rows[1:])[0] is False
    checker.close()


def _record(**context) -> dict:
    base = {
        "workload": "betting_sql", "seed": 1, "trace": 0, "cpus": 4, "nproc": 4,
        "master": "local[4]", "input": {"tables": "sf0.1", "sha256": "x"}, "tree": {"rows": 10},
        "shuffle_partitions": 4, "pyspark": "4.1.2", "seconds": 12, "ops": ["a"],
        "git_commit": "x",
    }
    base.update(context)
    ops = [
        {"op": "a", "pass": p, "construct_s": 0.1 * (1 + base["trace"]), "exec_s": 0.2}
        for p in (1, 2, 3)
    ]
    metrics = {"trace.pass_s": 0.4} if base["trace"] else {"pass_s": 0.3}
    return {
        "context": base, "metrics": metrics, "units": {"pass_s": "s"},
        "operations": ops, "measured_passes": [1, 2, 3],
    }


def test_compare_refuses_context_and_seed_mismatch():
    assert compare.mismatches(_record(), _record(git_commit="y")) == []
    assert compare.mismatches(_record(), _record(seed=2)) == ["seed"]
    assert compare.mismatches(_record(), _record(cpus=8, shuffle_partitions=8)) == [
        "cpus", "shuffle_partitions",
    ]
    over = compare.tracing_overhead(_record(), _record(trace=1))
    assert over["pass_s"] == pytest.approx(0.1)
    assert over["ops"]["a"] == pytest.approx(0.1)


def test_compare_cli_exit_codes(tmp_path):
    paths = []
    for i, rec in enumerate((_record(), _record(seed=2), _record(git_commit="z"))):
        paths.append(str(tmp_path / f"r{i}.json"))
        with open(paths[-1], "w") as fh:
            json.dump(rec, fh)
    script = os.path.join(BENCH, "compare.py")
    refused = subprocess.run([sys.executable, script, paths[0], paths[1]], capture_output=True, text=True)
    assert refused.returncode == 2 and "seed" in refused.stdout
    ok = subprocess.run([sys.executable, script, paths[0], paths[2]], capture_output=True, text=True)
    assert ok.returncode == 0 and "pass_s" in ok.stdout


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _benchmark_spec()["workloads"]])
def test_smoke_run_prints_every_metric_with_its_unit(workload, trace):
    spec = _benchmark_spec()
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "0", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["failed"] == 0 and result["correct"] is True, out.stdout
    want = spec["per_layer" if trace else "end_to_end"]
    assert {m: v["unit"] for m, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    for m in want:
        assert f"{m['name']} " in out.stdout
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
        with open(os.path.join(BENCH, "work", "results", f"{workload}-s5-t0.json")) as fh:
            record = json.load(fh)
        has_refresh = any(op.startswith("refresh_") for op in record["context"]["ops"])
        assert ("rows_per_s" in record["metrics"]) == has_refresh
        if has_refresh:
            assert record["metrics"]["rows_per_s"] > 0 and "rows_per_s " in out.stdout


def test_op_best_takes_each_operation_fastest_sample():
    import run

    records = [
        {"op": op, "pass": p, "construct_s": 0.1, "exec_s": s}
        for op, series in (("a", (1.0, 3.0, 1.2)), ("b", (2.0, 2.2, 9.0)))
        for p, s in zip((1, 2, 3), series)
    ] + [
        {"op": "a", "pass": 0, "construct_s": 0.0, "exec_s": 0.1},
        {"op": "b", "pass": 2, "error": "ValueError: x"},
    ]
    assert run.op_best(records, [1, 2, 3]) == pytest.approx({"a": 1.1, "b": 2.1})
