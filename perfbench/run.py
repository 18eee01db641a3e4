"""The repository's benchmark: one workload, one process, one client,
closed loop, on ``local[<cpus available>]``.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 10 --trace 0

Run from the repository root. A run reads the fixture tables in
``perfbench/fixtures/`` (checked against their SHA-256 sums), makes its
seeded inputs inside ``.perfbench/runs/`` (all stores, temp files and
Spark scratch of the run live there and are removed at exit), sets the
engine up three times, runs the workload's cold phase once, then timed
passes until ``--seconds`` have elapsed (at least one), then checks
every output outside the timed region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). ``--workload all`` runs every
workload, each in its own process, and prefixes each metric name with
its workload. ``--trace 1`` also writes the
span file ``.perfbench/traces/<workload>-seed<N>.json``: spans (name,
start, end, parent, op id) and the stage table of every op.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3  # one cold JVM start, then two session restarts in it
WORKLOAD_NAMES = ("warehouse", "curation")

# Every end-to-end figure a run measures: setup_s, and the cold phase,
# the median pass, the median op and the rows-per-second rate three
# ways: wall seconds, wall seconds net of CPU steal (``_net``:
# harness.stolen_share) and CPU seconds of the whole process tree
# (``_cpu``). END_TO_END names the gated ones; the rest are printed
# and recorded, and are per-layer metrics of traced runs (``wall.``).
MEASURED = {"setup_s": "s"}
for _kind in ("", "_net", "_cpu"):
    MEASURED.update({f"cold{_kind}_s": "s", f"pass{_kind}_s": "s",
                     f"op_p50{_kind}_s": "s", f"rows_per{_kind}_s": "1/s"})
# The raw wall times are not gated: on a shared 4-vCPU VM the CPU the
# hypervisor steals (0.6-21% over a run, measured) spread them to
# IQR/median 0.12-0.29 over ten runs, against 0.05-0.13 net of steal.
END_TO_END = {k: MEASURED[k] for k in (
    "setup_s", "cold_net_s", "pass_net_s", "op_p50_net_s", "rows_per_net_s",
    "cold_cpu_s", "pass_cpu_s", "op_p50_cpu_s", "rows_per_cpu_s",
)}
# per-layer metric -> (unit, where it is read: the median over set-ups,
# the cold phase, the median over timed passes of the per-pass sum, or
# once for the whole run)
PER_LAYER = {
    "session.get_spark_s": ("s", "setup"),
    "registry.load_all_s": ("s", "setup"),
    "queries.build_s": ("s", "pass"),
    "queries.exec_s": ("s", "pass"),
    "spark.stages": ("count", "pass"),
    "spark.tasks": ("count", "pass"),
    "spark.driver_gap_s": ("s", "pass"),
    "spark.executor_run_s": ("s", "pass"),
    "spark.executor_cpu_s": ("s", "pass"),
    "spark.gc_s": ("s", "pass"),
    "spark.shuffle_read_bytes": ("bytes", "pass"),
    "spark.shuffle_write_bytes": ("bytes", "pass"),
    "spark.spill_bytes": ("bytes", "pass"),
    "spark.input_bytes": ("bytes", "pass"),
    "spark.arrow_stage_s": ("s", "pass"),
    "derived_store.build_s": ("s", "cold"),
    "dedup_ops.pair_store.build_s": ("s", "cold"),
    "media_index.build_s": ("s", "cold"),
    "embedding_index.build_s": ("s", "cold"),
    "dedup.candidate_pairs": ("count", "cold"),
    "dedup.verified_pairs": ("count", "cold"),
    "store.warm_misses": ("count", "pass"),
    "pipelines.curate_corpus_s": ("s", "pass"),
    "pipelines.funnel_rows": ("count", "pass"),
    "publish.call_s": ("s", "pass"),
    "publish.keep_latest_s": ("s", "pass"),
    "publish.upsert_s": ("s", "pass"),
    "publish.distinct_s": ("s", "pass"),
    "publish.versioned_s": ("s", "pass"),
    "publish.bytes_written": ("bytes", "pass"),
    "publish.files_written": ("count", "pass"),
    "publish.write_amp": ("ratio", "pass"),
    "publish.target_rows": ("count", "pass"),
    "quality.checks_s": ("s", "pass"),
    "plans.build_summary_table_s": ("s", "pass"),
    "trace.overhead_s": ("s", "pass"),
    **{f"wall.{k}": (u, "run") for k, u in MEASURED.items() if k not in END_TO_END},
    "process.peak_rss_mb": ("MB", "run"),
}


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples
    beyond it: (value, percentile, sample count). Under eleven
    samples there is no such percentile and the maximum is reported
    as percentile 100."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--sf", type=float, default=0.01,
                   help="fixture scale factor (0.001 for a smoke run)")
    return p.parse_args(argv)


def run_all(args) -> int:
    """Every workload in its own process; their metrics under one line."""
    import subprocess

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--sf", str(args.sf)],
            capture_output=True, text=True)
        sys.stderr.write(proc.stderr)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{w}: exit {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        for line in lines[:-1]:
            print(f"{w} {line}")
        last = json.loads(lines[-1])
        merged["correct"] &= last["correct"]
        merged["attempted"] += last["attempted"]
        merged["failed"] += last["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in last["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if not os.path.isfile(os.path.join(ROOT, "programmers_data_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    import tempfile

    import harness

    host = harness.host_context()
    sys_tmp = tempfile.gettempdir()
    tmp_before = set(os.listdir(sys_tmp))
    tree_before = harness.tree_state(ROOT, skip=(WORK,))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return _run(args, run_dir, host, sys_tmp, tmp_before, tree_before)
    finally:
        harness.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir, host, sys_tmp, tmp_before, tree_before) -> int:
    import harness

    marks = {"start": time.perf_counter()}

    harness.isolate(run_dir, ROOT)
    sf_dir, fixture_digest = harness.fixture_dir(args.sf)

    setup_layers: dict[str, list[float]] = {}
    setups = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, secs = harness.setup_once(setup_layers)
        setups.append(secs)

    marks["setup"] = time.perf_counter()
    from workloads import WORKLOADS

    run = harness.Run(spark, sf_dir, run_dir, trace=bool(args.trace))
    run.oracle_dir = os.path.join(WORK, "oracle")
    run.fixture_digest = fixture_digest
    if run.trace:
        harness.instrument_quality(run)
    workload = WORKLOADS[args.workload](run, args.seed)

    ticks0 = harness.cpu_ticks()
    c = harness.clock()
    workload.cold(run)
    cold = harness.since(c)

    marks["cold"] = time.perf_counter()
    rng = random.Random(args.seed)
    passes: list[tuple[float, float, float]] = []  # (wall, net, cpu) each
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < args.seconds:
        workload.before_pass(run)
        run.phase = f"pass{len(passes)}"
        c = harness.clock()
        workload.run_pass(run, len(passes), rng)
        passes.append(harness.since(c))
    host["steal_pct_during_run"] = harness.steal_pct(ticks0, harness.cpu_ticks())
    jvm_pid = spark.sparkContext._gateway.proc.pid
    rss = harness.peak_rss_mb([os.getpid(), jvm_pid])

    marks["passes"] = time.perf_counter()
    run.phase = "check"
    try:
        checks = workload.check(run)
    except Exception as e:  # a check that cannot run is a wrong output
        import traceback

        traceback.print_exc(file=sys.stderr)
        checks = [("check", False, f"{type(e).__name__}: {e}")]
    harness.stop_jvm()

    marks["check"] = time.perf_counter()
    # isolation: nothing written outside this run's directory
    tree_after = harness.tree_state(ROOT, skip=(WORK,))
    stray = sorted(p for p, m in tree_after.items() if tree_before.get(p) != m)
    stray += sorted(
        os.path.join(sys_tmp, n) for n in set(os.listdir(sys_tmp)) - tmp_before
        if n.startswith(("spark", "blockmgr", "pds_", "hsperfdata"))
    )
    checks.append(("isolation", not stray, f"written outside the run dir: {stray[:5]}"))

    # every op the run timed, cold phase included: a pass alone holds
    # too few ops for a steady median
    ops = [o for o in run.ops if o.phase != "check"]
    op_samples = [o.wall_s for o in ops]
    tail_v, tail_pct, tail_n = tail(op_samples)
    rows, rows_secs = workload.rows(run, len(passes))
    op_secs = {"": op_samples, "_net": [o.wall_s * (1.0 - o.stolen) for o in ops],
               "_cpu": [o.cpu_s for o in ops]}
    measured = {"setup_s": statistics.median(setups)}
    for i, kind in enumerate(("", "_net", "_cpu")):
        measured[f"cold{kind}_s"] = cold[i]
        measured[f"pass{kind}_s"] = statistics.median(p[i] for p in passes)
        measured[f"op_p50{kind}_s"] = statistics.median(op_secs[kind])
        measured[f"rows_per{kind}_s"] = rows / rows_secs[i]
    e2e = {k: measured[k] for k in END_TO_END}
    layers = layer_metrics(run, setup_layers, len(passes))
    layers.update({f"wall.{k}": v for k, v in measured.items() if k not in END_TO_END})
    layers["process.peak_rss_mb"] = rss

    bad_checks = [c for c in checks if not c[1]]
    attempted = len([o for o in run.ops if o.phase != "check"])
    failed = min(attempted, len(run.failures) + len(bad_checks))
    context = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]), "trace": args.trace,
        "passes": len(passes), "op_tail_s": tail_v, "op_tail_percentile": tail_pct,
        "op_tail_samples": tail_n, "fail_ratio": failed / attempted,
        "setups_s": setups, "passes_wall_net_cpu_s": passes,
        "phase_walls_s": {k: marks[k] - marks[p] for p, k in zip(marks, list(marks)[1:])},
        **host,
    }
    for name, ok, detail in checks:
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
    metrics = layers if args.trace else e2e
    units = {k: v[0] for k, v in PER_LAYER.items()} if args.trace else END_TO_END
    for k, v in metrics.items():
        print(f"# {k} = {v:.6g} {units[k]}")
    if not args.trace:
        for k, v in measured.items():
            if k not in END_TO_END:
                print(f"# {k} = {v:.6g} {MEASURED[k]} (not gated)")
    print("# " + " ".join(f"{k}={v}" for k, v in context.items()))

    record = {"context": context, "measured": measured, "per_layer": layers,
              "checks": checks, "digests": run.digests, "inputs": workload.inputs,
              "ops": [{"name": o.name, "phase": o.phase, "wall_s": o.wall_s,
                       "cpu_s": o.cpu_s, "stolen": o.stolen, "ok": o.ok}
                      for o in run.ops]}
    _write(os.path.join(WORK, "results",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), record)
    if run.trace:
        _write(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"), {
            "context": context,
            "passes_wall_net_cpu_s": passes,
            "spans": run.spans,
            "ops": [
                {"op": o.op_id, "name": o.name, "phase": o.phase, "wall_s": o.wall_s,
                 "cpu_s": o.cpu_s, "stolen": o.stolen, "ok": o.ok,
                 "stages": [s.__dict__ for s in o.stages]}
                for o in run.ops
            ],
            "layers_by_phase": [
                {"phase": ph, "metric": m, "value": v} for (ph, m), v in run.layer.items()
            ],
        })
    print(json.dumps({
        "correct": not bad_checks and not run.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def layer_metrics(run, setup_layers: dict, n_passes: int) -> dict[str, float]:
    def per_pass(metric):
        return [run.layer.get((f"pass{i}", metric), 0.0) for i in range(n_passes)]

    out = {}
    for metric, (_unit, phase) in PER_LAYER.items():
        if phase == "setup":
            out[metric] = statistics.median(setup_layers[metric])
        elif phase == "cold":
            out[metric] = run.layer.get(("cold", metric), 0.0)
        elif phase == "pass":
            out[metric] = statistics.median(per_pass(metric))
    out["store.warm_misses"] = sum(per_pass("store.warm_misses"))
    amps = [w / b for w, b in zip(per_pass("publish.bytes_written"),
                                  per_pass("publish.batch_bytes")) if b]
    out["publish.write_amp"] = statistics.median(amps) if amps else 0.0
    out["trace.overhead_s"] = statistics.median(
        [run.trace_overhead.get(f"pass{i}", 0.0) for i in range(n_passes)]
    )
    return out


def _write(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
