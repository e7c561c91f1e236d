"""prec-spark benchmark: one workload, one process, one seeded input.

    python3 perfbench/run.py --workload pipeline_fresh --seed 0 --seconds 12 --trace 0

Run from the repository root.  Workloads (closed loop, one client):

* ``pipeline_fresh``  -- ``run_pipeline`` into an empty workdir, then
  count the triples (the CLI's path);
* ``kg_analytics``    -- ``kg_components``, ``kg_pagerank`` and
  ``kg_path_star`` from ``queries()``, in that order, cold then warm.

With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1``
a traced run prints the per-layer table.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--smoke`` shrinks the input to sf0.001 and the run to
one warm operation.  See perfbench/README.md for the metric definitions
and the layer map.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: scale factor of the measured input (lineitem rows = 6M * SF)
SF = 0.002
SMOKE_SF = 0.001

#: set-up rounds whose median is setup_s
SETUP_ROUNDS = 3

#: warm operations measured at least, whatever --seconds says
WARM_OPS = 2

WORKLOADS = ("pipeline_fresh", "kg_analytics")

#: the end-to-end metrics of the JSON result; cpu_s, peak_rss_mb,
#: written_mb, launch_s and failed_frac are printed only (README.md)
END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "cold_s": "s",
    "triples_per_s": "1/s",
}


def layer_unit(name: str) -> str:
    counter = name.rsplit(".", 1)[1]
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_mb"):
        return "MB"
    if counter in ("task_skew", "self_cover_frac", "overhead_frac"):
        return "ratio"
    if counter == "jobs":
        return "count"
    return "rows"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001, one warm operation")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import harness  # imports the program; fails where it is absent

    sf = SMOKE_SF if args.smoke else SF
    warm_ops = 1 if args.smoke else WARM_OPS
    seconds = 0 if args.smoke or args.trace else args.seconds
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    b = harness.Bench(args.seed, seconds, sf, work, warm_ops)
    try:
        setup_walls = b.setup(1 if args.trace or args.smoke else SETUP_ROUNDS)
        facts = b.host_facts()
        launch_s = time.perf_counter() - PROCESS_START
        if args.workload == "pipeline_fresh":
            res = harness.run_pipeline_fresh(b, bool(args.trace))
        else:
            res = harness.run_kg_analytics(b, bool(args.trace))
    finally:
        b.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's workdir is still there

    for err in b.errors:
        print(err, file=sys.stderr)
    failed = sum(not op.ok for op in b.ops)
    attempted = len(b.ops)
    correct = failed == 0 and b.extra.get("checks_ok", True)
    warm = res["warm"]
    wall = statistics.median(op.wall_s for op in warm)
    e2e = {
        "setup_s": statistics.median(setup_walls),
        "wall_s": wall,
        "cold_s": res["cold"].wall_s,
        "triples_per_s": res["triples"] / wall,
    }
    print(f"host {json.dumps(facts, sort_keys=True)}")
    print(f"workload {args.workload} seed {args.seed} warm_ops {len(warm)} "
          f"triples {res['triples']}")
    print("ops wall_s " + " ".join(f"{op.wall_s:.3f}" for op in b.ops)
          + " cpu_s " + " ".join(f"{op.cpu_s:.2f}" for op in b.ops))
    for name, walls in res.get("per_query", {}).items():
        print(f"query {name} wall_s " + " ".join(f"{w:.3f}" for w in walls))
    for name, value in e2e.items():
        print(f"metric {name} {value:.6g} {END_TO_END_UNITS[name]}")
    print(f"metric cpu_s {statistics.median(op.cpu_s for op in warm):.6g} s")
    print(f"metric peak_rss_mb {b.extra['peak_rss_mb']:.6g} MB")
    print(f"metric launch_s {launch_s:.6g} s")
    if "written_mb" in b.extra:
        print(f"metric written_mb {b.extra['written_mb']:.6g} MB")
    print(f"metric failed_frac {failed / attempted:.6g} ratio")
    if args.trace:
        layers = res["layers"]
        metrics = {}
        for name in harness.per_layer_names():
            value = float(layers.get(name, 0.0))
            metrics[name] = {"value": value, "unit": layer_unit(name)}
            print(f"layer {name} {value:.6g} {layer_unit(name)}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
