"""Benchmark of the engine: one command, one process, one closed-loop
client, Spark on ``local[nproc]``.

    python3 perfbench/run.py --workload queries_sf0.1 --seed 1 --seconds 3 --trace 0

Workloads (see BENCHMARK.json and README.md for why each exists):

- ``queries_sf0.1``: five bench-flagged registry queries, two
  relational and three from the LLM pipeline;
- ``datasus_etl``: EP3 -> EP1 -> EP2 increments through ``runner.main``.

A run sets the session up once, from process start (imports, JVM
launch, session, catalog or ETL configuration), runs untimed warm
rounds, then timed rounds until ``--seconds`` have passed, at least
one: a round is one pass over the queries in a seed-permuted order, or
one ETL increment. A fixed JVM job and a pure-Python loop run before
every timed op and are recorded with it. Every op's result is checked.
The last stdout line is the result JSON; the full run record (host,
versions, every sample, spans) is written under
``.bench_build/perfbench/records``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("queries_sf0.1", "datasus_etl")


class Context:
    def __init__(self, work: str, cache: str, tracer) -> None:
        self.repo = REPO
        self.work = work
        self.cache = cache
        self.tracer = tracer
        self.sf_dir = os.path.join(REPO, "perfbench", "data", "sf0.1")
        self.calib = None


def _median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _raw(result: dict) -> dict | None:
    """Timed ops and the raw-second statistics derived from them; None
    when no timed op returned."""
    timed = [o for o in result["ops"] if o["timed"] and "op_s" in o]
    if not timed:
        return None
    by_kind: dict[str, list[float]] = {}
    for o in timed:
        by_kind.setdefault(o.get("query", "increment"), []).append(o["op_s"])
    means = [sum(v) / len(v) for v in by_kind.values()]
    op_s = [o["op_s"] for o in timed]
    rows = sum(o.get("input_rows", o.get("raw_rows", 0)) for o in timed)
    return {
        "timed": timed,
        "op_s": op_s,
        "probe_s": [o["calib_s"] for o in timed],
        "wall_s": sum(result["rounds"]) / len(result["rounds"]),
        "op_geomean_s": math.exp(sum(math.log(m) for m in means) / len(means)),
        "rows_per_s": rows / sum(op_s),
    }


def end_to_end(result: dict, setup_s: float) -> dict[str, float | None]:
    """Op times over the interleaved host-probe time: on a shared VM the
    raw seconds move with the host's speed, the ratios far less (see
    README.md). The ratios are None when no timed op returned."""
    raw = _raw(result)
    if raw is None:
        return {"setup_s": setup_s, "wall_rel": None, "op_geomean_rel": None}
    probe = raw["probe_s"]
    return {
        "setup_s": setup_s,
        "wall_rel": sum(raw["op_s"]) / sum(probe),
        "op_geomean_rel": raw["op_geomean_s"] / (sum(probe) / len(probe)),
    }


def raw_seconds(result: dict) -> dict:
    """Metrics kept in the run record only: they move with the host's
    speed. A change to session or Spark configuration claims on these."""
    raw = _raw(result)
    if raw is None:
        return {}
    return {
        "wall_s": raw["wall_s"],
        "op_geomean_s": raw["op_geomean_s"],
        "rows_per_s": raw["rows_per_s"],
        "op_p50_s": statistics.median(raw["op_s"]),
    }


def per_layer(result: dict, tracer, mem: dict[str, float]) -> dict[str, float]:
    """Per-round values (a round is one query pass or one increment),
    median over the timed rounds; layers a workload does not call
    report 0."""
    timed = [o for o in result["ops"] if o["timed"] and "op_s" in o]
    by_round: dict[str, list[dict]] = {}
    for o in timed:
        by_round.setdefault(o["op"].split(":")[0], []).append(o)

    def per_round(key: str, family: str | None = None) -> float:
        return _median_or_zero([
            sum(o.get(key, 0) for o in ops if family in (None, o.get("family")))
            for ops in by_round.values()
        ])

    def span_round(name: str) -> float:
        per_op = tracer.per_op(name)
        return _median_or_zero([
            sum(per_op.get(o["op"], 0.0) for o in ops) for ops in by_round.values()
        ])

    setup_spans = {
        name: [s["end"] - s["start"] for s in tracer.spans
               if s["name"] == name and s["op"] is None]
        for name in ("session.start", "tables.load")
    }
    raw = sum(o.get("raw_bytes", 0) for o in timed)
    return {
        "session.start_s": _median_or_zero(setup_spans["session.start"]),
        "tables.load_s": _median_or_zero(setup_spans["tables.load"]),
        "queries.relational_s": per_round("op_s", "relational"),
        "queries.llm_s": per_round("op_s", "llm"),
        "plans.build_s": per_round("build_s"),
        "plans.eager_jobs": per_round("eager_jobs"),
        "exec.collect_s": per_round("collect_s"),
        "exec.jobs": per_round("jobs"),
        "exec.stages": per_round("stages"),
        "exec.tasks": per_round("tasks"),
        "exec.failed_tasks": per_round("failed_tasks"),
        "exec.exchanges": per_round("exchanges"),
        "exec.python_nodes": per_round("python_nodes"),
        "cache.released": per_round("released"),
        "runner.pending_baixar": per_round("pending_baixar"),
        "runner.pending_inserir": per_round("pending_inserir"),
        "ep3.refresh_s": span_round("ep3.refresh"),
        "ep1.s": span_round("runner.baixar"),
        "ep1.transform_fact_s": span_round("ep1.transform_fact"),
        "ep1.write_bronze_s": span_round("ep1.write_bronze"),
        "ep2.s": span_round("runner.inserir"),
        "ep2.stage_jdbc_s": span_round("ep2.stage_jdbc"),
        "ep2.commit_jdbc_s": span_round("ep2.commit_jdbc"),
        "sources.dbc.decode_mib_per_s": result.get("decode_mib_per_s") or 0.0,
        "sinks.bronze_bytes_per_raw_byte": (
            sum(o.get("bronze_bytes", 0) for o in timed) / raw if raw else 0.0
        ),
        "mem.jvm_hwm_mib": mem["jvm_hwm"],
        "mem.python_hwm_mib": mem["python_hwm"],
        "mem.jvm_heap_live_mib": mem["jvm_heap_live"],
        "host.calib_jvm_s": _median_or_zero([o["calib_jvm_s"] for o in timed]),
        "host.calib_py_s": _median_or_zero([o["calib_py_s"] for o in timed]),
        "trace.wall_s": sum(result["rounds"]) / len(result["rounds"]),
        "trace.overhead_s": result["trace_overhead_s"],
    }


def _span_cost() -> float:
    """Seconds one span costs the traced thread."""
    from perfbench.tracing import Tracer

    t = Tracer(True)
    n = 2000
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(REPO, "sm_etl_cloud_run_spark")):
        print(f"engine package not found under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    sys.path.insert(0, os.path.join(REPO, "tests"))  # dbc_fixtures

    from perfbench import harness
    from perfbench.tracing import Tracer

    build = os.path.join(REPO, ".bench_build", "perfbench")
    os.makedirs(build, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-{args.seed}-", dir=build)
    env = harness.configure_env(REPO, work)
    os.chdir(work)  # derby.log, metastore and warehouse dirs land in the temp root
    spark = None
    tracer = Tracer(bool(args.trace))
    ctx = Context(work, build, tracer)
    rng = random.Random(args.seed)
    try:
        from sm_etl_cloud_run_spark.session import get_spark

        if args.workload == "datasus_etl":
            from perfbench.etl import EtlWorkload

            workload = EtlWorkload(ctx)
        else:
            from perfbench.queries import QueryWorkload

            workload = QueryWorkload(ctx)

        with tracer.span("session.start"):
            spark = get_spark("perfbench")
        workload.setup(spark)
        setup_s = time.perf_counter() - PROCESS_START
        ctx.calib = harness.Calibrator(spark)
        result = workload.run(spark, rng, args.seconds)
        mem = harness.memory_mib(spark)
        host = harness.host_record(spark, REPO, env)
        n_spans = len(tracer.spans)
        result["trace_overhead_s"] = (
            _span_cost() * n_spans / len(result["rounds"]) if args.trace else 0.0
        )
    finally:
        if spark is not None:
            harness.stop_jvm(spark)
        os.chdir(REPO)
        shutil.rmtree(work, ignore_errors=True)

    ops = result["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    e2e = end_to_end(result, setup_s)
    layers = per_layer(result, tracer, mem) if args.trace else {}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"metrics not produced: {missing}", file=sys.stderr)
        return 3

    record = {
        "process_s": time.perf_counter() - PROCESS_START,
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "env": env,
        "setup_s": setup_s, "memory_mib": mem, "attempted": len(ops), "failed": failed,
        "error_rate": failed / len(ops),
        "end_to_end": e2e, "record_only": raw_seconds(result), "per_layer": layers,
        **{k: v for k, v in result.items() if k != "trace_overhead_s"},
        "self_time_s": tracer.self_times() if args.trace else {},
        "spans": tracer.dump() if args.trace else [],
    }
    records = os.path.join(build, "records")
    os.makedirs(records, exist_ok=True)
    path = os.path.join(
        records, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"run record: {path}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
