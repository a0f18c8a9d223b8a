"""Benchmark entry point.

    python3 perfbench/run.py --workload sync --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. The program under test is the
``pgwarehouse_spark`` package in that checkout; without it the command
exits with status 2 and prints no result. Everything a run creates lives
under ``.perfbench_work/`` in the checkout and is removed when it ends,
except that a traced run leaves its spans in
``.perfbench_work/spans-<workload>-<seed>.jsonl``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``. Lines before it give each metric's sample count.
See NOTES.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _prepare_env(work: str) -> None:
    """Point every scratch location at the run's work directory, before
    Spark or the package is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),  # beats spark.local.dir
        "SPARK_GRAFT_COMPACT_DIR": os.path.join(work, "compacted"),
        # local[4] and a 2 GB heap whatever the host: figures stay
        # comparable between machines, and the JVM small on a shared one
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_DRIVER_MEMORY": "2g",
        "TMPDIR": tmp,
        "TZ": "UTC",
    })
    import tempfile
    import time

    tempfile.tempdir = None
    time.tzset()


def _clean_stale(base: str) -> None:
    """Remove the work directories of earlier runs that were killed,
    stopping any Postgres server they left running."""
    import pgserver

    for name in os.listdir(base) if os.path.isdir(base) else []:
        try:
            os.kill(int(name.removeprefix("run-")), 0)
            continue  # that run is still alive
        except ProcessLookupError:
            pass
        except (ValueError, PermissionError):
            continue
        pgserver.PgServer(os.path.join(base, name, "pg")).stop()
        shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def _raise_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pgwarehouse_spark", "__init__.py")):
        print(f"pgwarehouse_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.RUNNERS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.RUNNERS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    _clean_stale(base)
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    signal.signal(signal.SIGTERM, _raise_on_sigterm)  # so the cleanup below runs
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        workloads.RUNNERS[args.workload](run)
        if args.trace:
            import layers

            metrics = layers.per_layer(
                run, workloads.QUERIES, workloads.MODULES, workloads.ACTIONS)
            spans = os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl")
            with open(spans, "w") as f:
                for s in run.tracer.spans:
                    f.write(json.dumps(s.as_dict(), default=str) + "\n")
        else:
            metrics = run.end_to_end()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    workloads.report(run)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
