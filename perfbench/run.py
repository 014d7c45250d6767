"""Benchmark entry point: run one workload of the id3c_spark pipeline.

    python3 perfbench/run.py --workload etl_cycle_query --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

  etl_cycle_query   providers POST a seeded batch (new samples, corrections
                    of earlier ones, skip-rule documents) to the receiving
                    API; the incremental enrollment -> manifest ->
                    presence-absence ETLs upsert it into a warehouse that
                    setup filled; a probe reads every result back from the
                    shipping view; then one consumer runs a seeded mix of
                    shipping queries for --seconds seconds (at least 20).
  curation_catalog  fifteen query-catalog entries over seeded tables: an
                    untimed pass checks each against its DuckDB oracle,
                    then seed-permuted rounds force each with a noop write
                    for --seconds seconds (at least one round).

Both are closed loops with one client on ``local[nproc]``. Every run works
in fresh directories under ``.perfbench_tmp/`` in the checkout (warehouse,
receiving log, status table, SPARK_LOCAL_DIRS, ANN index cache) and
deletes them before it exits. Outputs are checked against the generator's
expectation or the catalog's DuckDB oracles outside the timed sections;
any mismatch counts as a failed operation.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` wraps the program's module entry points with span recorders
and reports the per-layer metrics instead (``--spans PATH`` also writes
the raw spans). ``--size toy`` shrinks the inputs for the smoke test, and
``--corrupt-expected`` perturbs one expected count so the checks must fail.
"""

from __future__ import annotations

import argparse
import json
import shutil
import signal
import sys
import tempfile

sys.dont_write_bytecode = True   # leave the checkout as it was found

from harness import ROOT, Run, isolate  # noqa: E402
from layers import END_TO_END_UNITS, PER_LAYER_UNITS  # noqa: E402

WORKLOADS = ("etl_cycle_query", "curation_catalog")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans", help="write the traced run's spans to this JSON file")
    p.add_argument("--size", choices=("full", "toy"), default="full")
    p.add_argument("--corrupt-expected", action="store_true")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "id3c_spark" / "__init__.py").is_file():
        print(f"perfbench: no id3c_spark package under {ROOT}", file=sys.stderr)
        return 2
    scratch_root = ROOT / ".perfbench_tmp"
    scratch_root.mkdir(exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch_root)
    isolate(tmp)
    run = Run(args, tmp)
    # a terminated run still stops its JVM and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.workload == "etl_cycle_query":
            import etl_workload as workload
        else:
            import catalog_workload as workload
        workload.run(run)
        if args.spans and run.tracer is not None:
            run.tracer.dump(args.spans)
    finally:
        try:
            run.stop_spark()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                scratch_root.rmdir()
            except OSError:
                pass   # another run still uses it
    if args.trace:   # a layer this workload never calls did no work
        metrics = {name: run.per_layer.get(name, (0, unit))
                   for name, unit in PER_LAYER_UNITS.items()}
    else:
        metrics = {name: run.end_to_end[name] for name in END_TO_END_UNITS
                   if name in run.end_to_end}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
