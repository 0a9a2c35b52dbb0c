"""Repository benchmark for pholcus_spark.

    python3 perfbench/run.py --workload crawl_site --seed 1 --seconds 10 --trace 0

Runs one workload (crawl_site or curate_corpus; BENCHMARK.json says why
each exists) in this process at local[nproc], checks every operation's
output against an independent reference and prints, as the last line
of stdout, one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. All state lives under ``.perfbench_state/`` in the
checkout and is removed on exit. See perfbench/README.md.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import CURATE_STEPS, WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "output_mb": "MiB",
}

PER_LAYER = {
    **{
        f"engine.{k}": u
        for k, u in (
            ("supersteps", "count"), ("superstep_p50_s", "s"), ("superstep_max_s", "s"),
            ("driver_only_s", "s"), ("spark_jobs", "count"), ("spark_stages", "count"),
            ("spark_tasks", "count"), ("task_wait_s", "s"),
            ("python_tasks.superstep", "count"), ("python_tasks.flush", "count"),
            ("python_task_s.superstep", "s"), ("python_task_s.flush", "s"),
            ("jvm_task_s.superstep", "s"), ("jvm_task_s.flush", "s"),
            ("flush_s", "s"), ("seed_s", "s"), ("shuffle_write_mb", "MiB"),
            ("spill_mb", "MiB"), ("storage_peak_mb", "MiB"), ("storage_held_mb", "MiB"),
            ("children_rows", "count"), ("new_url_ratio", "ratio"),
        )
    },
    "catalog.commits": "count", "catalog.commit_s": "s", "catalog.read_calls": "count",
    "catalog.read_s": "s", "catalog.snapshots": "count",
    "bodystore.write_s": "s", "bodystore.mb": "MiB",
    "fetch.calls": "count",
    "keys.canonicalize_us": "us", "keys.canonicalize_n": "count",
    "extract.parse_us": "us", "extract.parse_n": "count",
    "imaging.decode_phash_us": "us", "imaging.decode_phash_n": "count",
    "bloom.build_s": "s", "bloom.fpr": "ratio", "bloom.fpr_n": "count",
    "bloom.probe_pass_ratio": "ratio",
    "seenstore.add_s": "s", "seenstore.filter_s": "s",
    **{
        f"ops.{s}{k}": u
        for s in CURATE_STEPS
        for k, u in (
            ("_s", "s"), (".rows_in", "count"), (".rows_out", "count"),
            (".tasks", "count"), (".shuffle_mb", "MiB"),
        )
    },
    "trace.run_s": "s", "trace.overhead_s": "s",
}


def _log(msg: str):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _start(bench, wl, eventlog: bool = False):
    """Session, python worker warm-up and the workload's seeded input."""
    bench.start_spark(eventlog=eventlog)
    bench.warm_python_workers()
    t0 = time.perf_counter()
    wl.setup(bench, os.path.join(bench.state, "input"))
    _log(f"{wl.name}: input set-up {time.perf_counter() - t0:.2f} s")


def _one(bench, wl, rep: int, tally: dict):
    """One timed operation plus its check; failures are counted."""
    workdir = os.path.join(bench.state, f"out-{rep}")
    tally["attempted"] += 1
    try:
        obs = wl.run(bench, workdir)
        _log(f"{wl.name}: op {rep}: run_s {obs['run_s']:.2f} cpu_s {obs['cpu_s']:.2f} [{_steps(obs)}]")
        errs = wl.check(obs)
    except Exception:
        traceback.print_exc()
        tally["failed"] += 1
        return None
    for e in errs:
        _log(f"{wl.name}: op {rep}: check failed: {e}")
    if errs:
        tally["failed"] += 1
        return None
    obs["workdir"] = workdir
    return obs


def _steps(obs) -> str:
    if isinstance(obs["steps"], dict):
        return " ".join(f"{k}:{s['end'] - s['start']:.1f}" for k, s in obs["steps"].items())
    return " ".join(f"{s['rows']} rows:{s['end'] - s['start']:.1f}" for s in obs["steps"])


def end_to_end(bench, wl, tally) -> dict:
    """Operations back to back until ``--seconds`` have passed (at least
    one); per-operation numbers are medians over them."""
    from perfbench.harness import median

    _start(bench, wl)
    setup_s = time.perf_counter() - _T_PROCESS
    cpu, out_mb = [], []
    t_end = time.perf_counter() + bench.seconds
    while not cpu or time.perf_counter() < t_end:
        obs = _one(bench, wl, len(cpu), tally)
        if obs is None:
            return {}
        cpu.append(obs["cpu_s"])
        out_mb.append(obs["output_mb"])
        shutil.rmtree(obs["workdir"], ignore_errors=True)
    values = {"setup_s": setup_s, "cpu_s": median(cpu), "output_mb": median(out_mb)}
    _log(f"{wl.name}: " + " ".join(f"{k} {v:.2f}" for k, v in values.items()))
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def per_layer(bench, wl, tally) -> dict:
    """One fully traced operation: Spark event log on, job groups and
    spans around every public call, timing wrappers on the injected
    catalog/fetcher and on ``bloom.build_sidecar``."""
    from pholcus_spark import bloom
    from perfbench.harness import read_eventlog

    bench.trace = True
    _start(bench, wl, eventlog=True)
    build = bloom.build_sidecar

    def timed_build(*a, **kw):
        t0 = time.perf_counter()
        try:
            return build(*a, **kw)
        finally:
            bench.calls["bloom.build_sidecar"].append(time.perf_counter() - t0)

    bloom.build_sidecar = timed_build
    try:
        obs = _one(bench, wl, 0, tally)
    finally:
        bloom.build_sidecar = build
    if obs is None:
        return {}
    values = dict.fromkeys(PER_LAYER, 0.0)
    values.update(wl.layers(bench, obs, read_eventlog(bench.eventlog_dir)))
    values["bloom.build_s"] = sum(obs["calls"].get("bloom.build_sidecar", []))
    values["trace.run_s"] = obs["run_s"]
    values["trace.overhead_s"] = obs["trace_self_s"]
    bench.write_spans()
    return {k: {"value": float(values[k]), "unit": u} for k, u in PER_LAYER.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pholcus_spark", "__init__.py")):
        _log(f"no pholcus_spark package under {ROOT}")
        return 2
    from perfbench.harness import Bench

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload](args.seed)
    bench = Bench(args.workload, args.seed, args.seconds, trace=False)
    tally = {"attempted": 0, "failed": 0}
    try:
        metrics = per_layer(bench, wl, tally) if args.trace else end_to_end(bench, wl, tally)
    finally:
        bench.shutdown()
    print(json.dumps({
        "correct": tally["failed"] == 0 and bool(metrics),
        "attempted": max(1, tally["attempted"]),
        "failed": tally["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
