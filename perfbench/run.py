#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 10 --trace 0

Workloads: ``crawl_extract``, ``curate_text`` (see ``workloads.py``). The seed fixes the generated inputs; ``--seconds`` is
how long the timed loop runs (at least one iteration always completes).

With ``--trace 0`` the last line of standard output is a JSON object whose
``metrics`` are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are the per-layer metrics, and the spans are written to
``.perfbench_traces/<workload>-seed<seed>.json``. Lines before it are a
readable report, including the figures that are not declared
(``scaling_eff``, ``failed_share``) and the run's contention telemetry.

The command exits non-zero, without a result line, when the program is
missing or a step raises; it prints the result with ``"correct": false``
and exits 1 when a correctness gate fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
UNITS = {"scaling_eff": "ratio", "failed_share": "share",
         "steal_cores": "cores", "foreign_cores": "cores"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("crawl_extract", "curate_text"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work_tmp: str):
    """Keep every file the run writes inside the checkout, pin the load
    shape, and let Python workers import the program and ``probe``."""
    os.makedirs(work_tmp, exist_ok=True)
    os.environ["TMPDIR"] = work_tmp
    tempfile.tempdir = None
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _print_report(run, declared):
    print(f"perfbench {run.workload} seed={run.seed} trace={int(run.traced)}")
    e2e = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    for name, unit in e2e.items():
        print(f"  {name:<22} {run.e2e.get(name, float('nan')):>14.4f} {unit}")
    extra = dict(run.info)
    extra["failed_share"] = run.failed / max(run.attempted, 1)
    for name in UNITS:
        if name in extra:
            print(f"  {name:<22} {extra[name]:>14.4f} {UNITS[name]}")
    for key in ("phases", "iteration_walls", "contended_iterations",
                "query_walls", "input", "setup_s_each", "content_digest",
                "local1_docs_per_s", "kernel_share_of_python_run"):
        if key in extra:
            print(f"  {key}: {extra[key]}")
    if run.traced:
        for m in declared["per_layer"]:
            print(f"  {m['name']:<40} {run.layer.get(m['name'], 0.0):>16.6f} "
                  f"{m['unit']}")
    for name, ok, detail in run.gates:
        print(f"  gate {name}: {'ok' if ok else 'FAILED ' + detail}")


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "go_boilerpipe_spark")):
        print("perfbench: the program (go_boilerpipe_spark) is not in this "
              "checkout", file=sys.stderr)
        return 2
    declared = _declared()
    _environment(os.path.join(ROOT, ".perfbench_work", args.workload, "tmp"))

    import procstat
    import workloads

    # the first import loads the compiled kernel, building it from
    # _ckernel.c on the first run in a fresh checkout
    t0 = time.perf_counter()
    from go_boilerpipe_spark.kernel import document

    kernel_load_s = time.perf_counter() - t0

    t_start = time.perf_counter()
    run = workloads.Run(ROOT, args.workload, args.seed, args.seconds,
                        bool(args.trace))
    run.layer["kernel.load_s"] = kernel_load_s
    run.layer["kernel.c_path"] = int(document._CK is not None)
    try:
        with procstat.TreeSampler(interval_s=0.2) as sampler:
            workloads.WORKLOADS[args.workload](run, sampler)
    finally:
        run.close()
        procstat.reap_children()

    run.info.setdefault("phases", {})["total"] = round(
        time.perf_counter() - t_start, 3)
    _print_report(run, declared)
    if run.traced:
        out_dir = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(out_dir, exist_ok=True)
        run.tracer.dump(
            os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"),
            extra={"workload": args.workload, "seed": args.seed,
                   "layer": run.layer, "info": run.info},
        )
        names = [(m["name"], m["unit"]) for m in declared["per_layer"]]
        metrics = {n: {"value": float(run.layer.get(n, 0.0)), "unit": u}
                   for n, u in names}
    else:
        metrics = {m["name"]: {"value": float(run.e2e[m["name"]]),
                               "unit": m["unit"]}
                   for m in declared["end_to_end"]}
    correct = all(ok for _, ok, _ in run.gates)
    for name, ok, detail in run.gates:
        if not ok:
            print(f"perfbench: gate {name} failed: {detail}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": int(run.attempted),
                      "failed": int(run.failed), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
