"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints progress lines, then as its last line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def declared_units(kind: str) -> dict[str, str]:
    """name -> unit of every metric BENCHMARK.json declares under ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "etl_german_fhir_core_spark"))):
        print(f"perfbench: no program sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    units = declared_units("per_layer" if args.trace else "end_to_end")
    # a terminated run still stops its JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t_start = time.perf_counter()
    work = harness.make_workdir(ROOT, args.workload)
    try:
        with harness.Sampler() as sampler:
            session = harness.Session(ROOT, work, event_log=bool(args.trace))
            try:
                run = workloads.Run(session, sampler, work, args.seed, args.seconds,
                                    bool(args.trace), t_start)
                run.log("session started")
                e2e, finish = workloads.WORKLOADS[args.workload](run)
            finally:
                session.close()
        e2e["peak_rss_mb"] = sampler.peak_rss_kb / 1024.0
        if args.trace:
            tv = workloads.TraceView(run)
            layer = finish(tv)
            values = {name: layer.get(name, 0.0) for name in units}
            run.tracer.dump(os.path.join(os.path.dirname(work), f"{args.workload}-spans.jsonl"))
        else:
            values = e2e
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
        print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                          "failed": run.failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
