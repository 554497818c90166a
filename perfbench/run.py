#!/usr/bin/env python3
"""hangarbay-spark benchmark: one workload, one fresh process.

    python3 perfbench/run.py --workload {update,serve,curate} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The program is imported from
``./hangarbay_spark`` and runs on ``local[N]`` with ``N`` = the usable
cores. All scratch state (data dirs, index dirs, Spark local dirs, the
event log) lives in a fresh directory under ``perfbench/.work`` that is
removed at exit; a full report is kept in ``perfbench/.reports``.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``. The line before it is a human-readable summary with
the workload's own named metrics (``update_s``, ``search_p50_ms``,
``mix_s``, ...). A workload that fails outside a counted request (a
wrong result in set-up, a crash) prints ``correct: false`` with no
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from spans import RssSampler, Tracer  # noqa: E402

import layers  # noqa: E402

# The JVM heap limit of every run (spark.driver.memory), set here and not
# taken from the environment, so runs on one machine compare. The
# program's own default (24g) let a serve run reach 10 GB resident on a
# 15 GB machine. There is no -Xms: the heap grows with the program's
# working set, so peak_rss_mb follows it while the heap is below the
# limit (README.md, "End-to-end metrics").
HEAP = "4g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("update", "serve", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(root: Path, work: Path) -> None:
    """Point every scratch location of this process, the JVM and the
    Python workers into ``work``, and make the checkout importable by
    the workers."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, the spark-submit launcher's included: no perf-data file
    # and no temp files outside the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["HANGARBAY_DATA_DIR"] = str(work / "hangarbay-data")
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.pop("SPARK_MASTER", None)
    sys.path.insert(0, str(root))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "hangarbay_spark" / "__init__.py").is_file():
        print("perfbench: run from the root of a hangarbay-spark checkout "
              "(./hangarbay_spark not found)", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        prepare_env(root, work)
        import workloads

        tracer = Tracer(enabled=bool(args.trace))
        ctx = workloads.Ctx(
            work, args.seed, args.seconds, cores, tracer,
            event_log_dir=work / "eventlog" if args.trace else None,
        )
        with RssSampler() as rss:
            res = workloads.WORKLOADS[args.workload](ctx)
        e2e = layers.end_to_end(res, rss.peak)
        metrics = layers.per_layer(ctx, res, e2e) if args.trace else e2e
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores, "heap": ctx.heap,
            "attempted": res.attempted,
            "failed": res.failed, "named": res.named, "metrics": metrics,
            "latencies": res.latencies, "setup_s": res.setup_s,
            "spans": [s.__dict__ for s in tracer.spans] if args.trace else [],
        }
        reports = HERE / ".reports"
        reports.mkdir(exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S")
        (reports / f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json"
         ).write_text(json.dumps(report, default=str))
    except Exception:
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}),
              flush=True)
        return 0
    finally:
        if "workloads" in sys.modules:  # also after a failed run
            sys.modules["workloads"].stop_session()
        shutil.rmtree(work, ignore_errors=True)

    summary = {
        "workload": args.workload, "cores": cores, "heap": ctx.heap,
        "fail_frac": res.failed / max(res.attempted, 1),
        **{k: (round(v, 6) if isinstance(v, float) else v) for k, v in res.named.items()},
    }
    print("summary " + json.dumps(summary))
    out = {
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": max(res.attempted, 1),
        "failed": res.failed if res.attempted > 0 else 1,
        "metrics": {k: {"value": v, "unit": layers.UNITS[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
