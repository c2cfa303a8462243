"""Run one benchmark workload from a seed and print its metrics.

    python3 benchmark/run.py --workload motogp_etl --seed 1 --seconds 5 --trace 0

One process, one SparkSession on ``local[<cpus>]``, one client in a
closed loop: each op starts when the previous one has returned, and
the loop runs in rounds (a round is one op, or one op of each part of
a mixed workload) until ``--seconds`` have passed and the workload's
``min_hot_rounds`` hot rounds are done. Round 0 is cold, and the first
op of each kind is marked cold in the details. Outputs are checked
after the loop. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the details (environment, load, sample counts, every op time).
With ``--trace 0`` the metrics are the ``end_to_end`` metrics of
BENCHMARK.json; with ``--trace 1`` they are its ``per_layer`` metrics,
from a run whose rounds of ops alternate untraced and traced.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
# the program under test; the benchmark cannot run without it
PROGRAM = (
    "__spark_entry__.py",
    "lsdm_motogp_data_integration_spark/session.py",
    "tools/check_correctness.py",
)
MAX_LOOP_S = 120  # hard stop for the op loop, once a hot op is done

# layers whose Spark job groups' engine counters are reported
COUNTER_LAYERS = (
    "session", "sources", "pipelines.motogp", "operators.fuzzy",
    "operators.keys", "query", "pipelines.curation", "operators.dedup",
    "operators.membership", "operators.ann",
)
COUNTERS = ("jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "wait_s")


def cpu_ref_s(iters: int = 1000) -> float:
    """Fixed-work CPU yardstick (sha256 over 64 MiB, one thread): a
    slow reading marks a run on a busy host."""
    block = b"x" * 65536
    h = hashlib.sha256()
    t = time.perf_counter()
    for _ in range(iters):
        h.update(block)
    return time.perf_counter() - t


def pin_environment(work: str) -> dict:
    """Size Spark to this machine and keep its files inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # a quarter of the RAM, 1-4 GiB: the program's own default (64g)
    # assumes a much larger host
    mem_gb = max(1, min(4, total_kb // (4 * 1024 * 1024)))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Python workers import the program and the benchmark's UDFs
        "PYTHONPATH": os.pathsep.join(
            [ROOT, BENCH] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return dict(env, cpus=cpus, mem_total_gb=round(total_kb / 1024 / 1024, 1))


def start_session(work: str, tracer):
    from pyspark.sql import functions as F

    from lsdm_motogp_data_integration_spark.functions.similarity import jaro_winkler_udf
    from lsdm_motogp_data_integration_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark("benchmark", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
    tracer.bind(spark)
    # start the Python worker pool (reused by every pandas UDF)
    with tracer.span("session.worker_warm"):
        n = int(os.environ["SPARK_GRAFT_CPUS"])
        spark.range(512).repartition(n).select(
            jaro_winkler_udf(F.lit("a"), F.lit("b"))
        ).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_loop(wl, spark, tracer, meter, seconds: float, traced_run: bool) -> list[dict]:
    """Closed loop over rounds of ``wl.round_len`` ops; round 0 is cold.
    Stops at the end of a round once ``seconds`` have passed and
    ``wl.min_hot_rounds`` untraced hot rounds are done. A traced run
    traces every odd round, counts the Spark jobs of each untraced op,
    and needs one untraced hot round (its per-layer metrics have no
    bound, and a traced round takes several times an untraced one)."""
    sc = spark.sparkContext
    ops, kinds = [], set()
    n_hot = 0  # untraced hot rounds done
    min_hot = 1 if traced_run else wl.min_hot_rounds
    t_loop = time.perf_counter()
    while True:
        i = len(ops)
        traced = traced_run and (i // wl.round_len) % 2 == 1
        kind = wl.kind(i)
        tracer.op = i
        if traced_run and not traced:
            sc.setJobGroup("op", "op")
            jobs_before = len(sc.statusTracker().getJobIdsForGroup("op"))
        t = time.perf_counter()
        try:
            out = wl.traced_op(spark, i, tracer, meter) if traced else wl.op(spark, i)
            ok = True
        except Exception:  # a failing op is counted, the loop goes on
            traceback.print_exc()
            out, ok = None, False
        rec = {"i": i, "s": time.perf_counter() - t, "kind": kind,
               "cold": kind not in kinds, "traced": traced, "out": out, "ok": ok}
        kinds.add(kind)
        if traced_run and not traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup("op")) - jobs_before
        ops.append(rec)
        if len(ops) % wl.round_len:
            continue
        n_hot += len(ops) > wl.round_len and not traced
        elapsed = time.perf_counter() - t_loop
        if (n_hot >= min_hot and elapsed >= seconds
                or n_hot > 0 and elapsed >= MAX_LOOP_S):
            return ops


def check_outputs(wl, spark, ops: list[dict]) -> tuple[list[str], list[dict]]:
    """Checks every op's output (a failed check fails the op) and
    measures output quality on the cold round and the next
    ``min_hot_rounds`` rounds, which every run has, so a seed's quality
    does not depend on how many ops a run managed."""
    wl.prepare_check(spark)
    failures, quality = [], []
    for rec in ops:
        if not rec["ok"]:
            continue
        try:
            ok, msg = wl.check(rec["out"])
            if ok and rec["i"] < wl.round_len * (1 + wl.min_hot_rounds):
                quality.append(wl.quality(rec["out"]))
        except Exception:  # a check that crashes fails its op
            ok, msg = False, traceback.format_exc()
        rec["ok"] = ok
        if not ok:
            failures.append(f"op {rec['i']}: {msg}")
    return failures, quality


def quality_mean(quality: list[dict], key: str) -> float:
    """Mean of ``key`` per output family (a workload with several parts
    checks each against its own truth), then over the families, so each
    part weighs the same whatever its number of ops."""
    by_family: dict = {}
    for q in quality:
        by_family.setdefault(q.get("family"), []).append(q[key])
    return statistics.mean(statistics.mean(v) for v in by_family.values()) if by_family else 0.0


def per_layer(tracer, layers: dict, hot_s: list, traced_s: list) -> dict:
    """Layer metrics common to every workload, plus the workload's
    own ``layers``."""
    import spans

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def session_self(name):
        return med(tracer.per_op(lambda s: s["name"] == name, lambda s: s["self_s"]))

    m = {
        "session.get_spark_s": session_self("session.get_spark"),
        "session.worker_warm_s": session_self("session.worker_warm"),
        **layers,
    }
    for layer in COUNTER_LAYERS:
        # session spans run during set-up, the others inside ops
        in_setup = layer == "session"
        for c in COUNTERS:
            m[f"{layer}.spark.{c}"] = med(tracer.per_op(
                lambda s, L=layer: spans.layer_of(s["name"]) == L
                and (s["op"] == "setup") == in_setup,
                lambda s, c=c: s["spark"].get(c, 0),
            ))
    m["trace.overhead_s"] = med(traced_s) - med(hot_s)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"program files missing: {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), BENCH]

    import spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    tracer = spans.Tracer(None, enabled=bool(args.trace), slots=1)
    try:
        env = pin_environment(work)
        tracer.slots = env["cpus"]
        load_before = os.getloadavg()
        cpu_before = cpu_ref_s()
        t = time.perf_counter()
        wl = WORKLOADS[args.workload](work, args.seed)
        gen_s = time.perf_counter() - t

        tracer.op = "setup"
        spark = start_session(work, tracer)
        wl.setup(spark, tracer)
        # from process start to ready, less the benchmark's own work
        # (input generation, CPU yardstick)
        setup_s = time.perf_counter() - T_START - gen_s - cpu_before

        meter = None
        if args.trace:
            from pyspark.sql import types as T

            from lsdm_motogp_data_integration_spark.functions import similarity

            meter = spans.UdfMeter(spark, similarity.jaro_winkler_udf.func, T.DoubleType())
        t = time.perf_counter()
        ops = run_loop(wl, spark, tracer, meter, args.seconds, bool(args.trace))
        loop_s = time.perf_counter() - t
        load_after = os.getloadavg()

        t = time.perf_counter()
        failures, quality = check_outputs(wl, spark, ops)
        rounds = [ops[r:r + wl.round_len] for r in range(0, len(ops), wl.round_len)]
        round_s = [sum(o["s"] for o in r) for r in rounds]
        # round 0 is the cold round; traced rounds are not timed
        hot = [r for r in range(1, len(rounds)) if not rounds[r][0]["traced"]]
        hot_s = [round_s[r] for r in hot]
        e2e = {
            "setup_s": (setup_s, 1),
            "cold_round_s": (round_s[0], 1),
            "round_s": (statistics.median(hot_s), len(hot_s)),
            "rows_per_s": (
                sum(wl.rows(o["i"]) for r in hot for o in rounds[r]) / sum(hot_s),
                len(hot_s),
            ),
            "recall": (quality_mean(quality, "recall"), len(quality)),
            "precision": (quality_mean(quality, "precision"), len(quality)),
        }
        if args.trace:
            measured = per_layer(
                tracer, wl.layer_metrics(tracer, ops), hot_s,
                [round_s[r] for r in range(len(rounds)) if rounds[r][0]["traced"]],
            )
            listed = spec["per_layer"]
        else:
            measured = {k: v for k, (v, _) in e2e.items()}
            listed = spec["end_to_end"]
        unlisted = set(measured) - {m["name"] for m in listed}
        if unlisted:
            raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unlisted)}")
        check_s = time.perf_counter() - t

        failed = sum(not o["ok"] for o in ops)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "environment": {k: v for k, v in env.items() if k != "PYTHONPATH"},
            "loadavg_before": load_before,
            "loadavg_after": load_after,
            "cpu_ref_s_before": cpu_before,
            "cpu_ref_s_after": cpu_ref_s(),
            "phase_s": {"input_gen": gen_s, "op_loop": loop_s, "check": check_s,
                        "total": time.perf_counter() - T_START},
            "failed_frac": failed / len(ops),
            "check_failures": failures,
            "end_to_end": {
                k: {"value": v, "unit": units[k], "samples": n} for k, (v, n) in e2e.items()
            },
            "ops": [{k: o[k] for k in ("i", "s", "kind", "cold", "traced", "ok")}
                    for o in ops],
        }
        print(json.dumps(detail))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            # a layer the workload does not run reads 0
            "metrics": {
                m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in listed
            },
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        if args.trace:
            traces = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.write(os.path.join(traces, f"{args.workload}-s{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
