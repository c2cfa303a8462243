"""The benchmark's own tests: seeded inputs are deterministic, a run
prints exactly the metrics BENCHMARK.json names, and the output checks
catch a planted wrong row.

    python3 -m pytest benchmark -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import glob
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), BENCH]

import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    fa = sorted(os.path.relpath(p, a) for p in glob.glob(f"{a}/**/*", recursive=True))
    fb = sorted(os.path.relpath(p, b) for p in glob.glob(f"{b}/**/*", recursive=True))
    files = [f for f in fa if os.path.isfile(os.path.join(a, f))]
    return fa == fb and bool(files) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
        for f in files
    )


@pytest.mark.parametrize("make", [
    lambda seed, d: gen.gen_motogp(seed, d, workloads.MotogpEtl.scale),
    lambda seed, d: gen.gen_star(seed, d, 50, 200, 10, 2, 100, 20),
    lambda seed, d: gen.gen_corpus(seed, d, 120, 3, 5, 5, 4),
    lambda seed, d: gen.gen_vectors(seed, d, 500, 40, 10),
])
def test_generators_are_deterministic(tmp_path, make):
    t1 = make(7, str(tmp_path / "a"))
    t2 = make(7, str(tmp_path / "b"))
    make(8, str(tmp_path / "c"))
    assert t1 == t2
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [
    ("motogp_etl", 0), ("motogp_etl", 1),
])
def test_run_prints_exactly_the_listed_metrics(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    listed = spec["per_layer" if trace else "end_to_end"]
    assert list(out["metrics"]) == [m["name"] for m in listed]
    for m in listed:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


# -- planted wrong rows --------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("work"))
    run.pin_environment(work)
    session = run.start_session(work, spans.Tracer(None, enabled=False, slots=1))
    yield session
    run.stop_session(session)


def _corrupt_parquet(path: str, column: str, fn) -> None:
    t = pq.read_table(path)
    i = t.column_names.index(column)
    col = t.column(column).to_pylist()
    col[0] = fn(col[0])
    pq.write_table(t.set_column(i, t.field(i), [col]), path)


def test_motogp_check_catches_wrong_rows(spark, tmp_path):
    wl = workloads.MotogpEtl(str(tmp_path), 5)
    out = wl.op(spark, 0)
    wl.prepare_check(spark)
    assert wl.check(out) == (True, "ok")
    assert wl.quality(out)["recall"] > 0.9

    part = sorted(glob.glob(f"{out}/team_standings/*/*.parquet"))[0]
    _corrupt_parquet(part, "total_points", lambda v: v + 1.0)
    ok, msg = wl.check(out)
    assert not ok and "team_standings" in msg

    out = wl.op(spark, 1)
    part = sorted(glob.glob(f"{out}/circuits/*.parquet"))[0]
    _corrupt_parquet(part, "circuit_id", lambda v: v + 1000)
    ok, msg = wl.check(out)
    assert not ok and "circuit_id" in msg


class _SmallVectors(workloads.VectorSearch):
    n_corpus, n_queries, batch = 2000, 40, 10


def test_vector_check_catches_a_wrong_row(spark, tmp_path):
    wl = _SmallVectors(str(tmp_path), 5)
    wl.setup(spark, spans.Tracer(None, enabled=False, slots=1))
    out = wl.op(spark, 0)
    wl.prepare_check(spark)
    assert wl.check(out) == (True, "ok")
    assert 0.5 < wl.quality(out)["recall"] <= 1.0

    b, rows = out
    bad = [r.asDict() for r in rows]
    bad[0]["cosine"] = bad[0]["cosine"] - 0.01
    assert not wl.check((b, bad))[0]
    assert not wl.check((b, [r.asDict() for r in rows[1:]]))[0]


def test_star_check_catches_a_wrong_row(spark, tmp_path):
    wl = workloads.StarSql(str(tmp_path), 5)
    wl.prepare_check(spark)
    planted = {"q01_pricing_summary": "count_order", "q36_asof_join": "o_orderkey"}
    for i, q in enumerate(wl.order):
        if q in planted:
            out = wl.op(spark, i)
            assert wl.check(out) == (True, "ok")
            assert wl.quality(out) == {"recall": 1.0, "precision": 1.0}
            got = out[1].copy()
            got.loc[0, planted[q]] += 1
            assert not wl.check((q, got))[0]
            assert wl.quality((q, got))["recall"] < 1.0
            assert not wl.check((q, out[1].iloc[1:]))[0]


def test_curation_check_catches_wrong_rows(spark, tmp_path):
    wl = workloads.CorpusCuration(str(tmp_path), 5)
    out = wl.op(spark, 0)
    wl.prepare_check(spark)
    assert wl.check(out) == (True, "ok")
    q = wl.quality(out)
    assert q["recall"] > 0.9 and q["precision"] > 0.9

    part = sorted(glob.glob(f"{out}/train/*.parquet"))[0]
    _corrupt_parquet(part, "seq_offset", lambda v: v + 1)
    ok, msg = wl.check(out)
    assert not ok and "packing" in msg

    out = wl.op(spark, 1)
    part = sorted(glob.glob(f"{out}/train/*.parquet"))[0]
    _corrupt_parquet(part, "doc_id", lambda v: wl.truth["contaminated"][0])
    assert not wl.check(out)[0]
