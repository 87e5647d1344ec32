"""Compare the generated input with the reference input it is derived from.

Runs one workload's keys on ``ref/`` and on ``gen.py``'s output for each
given seed, all in one session with Spark's event log on. Each input gets
fresh state roots, is staged (batch workload) and warmed by untimed
passes; then the inputs take turns, one traced pass each, ``--passes``
times. Prints, per key and input, the median op wall, build time (the
query function), job count and output rows as a markdown table. Run it
from the repository root:

    python3 perfbench/compare_ref.py --workload batch --seeds 1 2 3
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from eventlog import EventLog  # noqa: E402
from run import WARM_PASSES, WORKLOADS, Bench, fresh_dir, op_layers  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    bench = Bench(argparse.Namespace(workload=args.workload, seed=0), wl)
    try:
        bench.configure_env()
        inputs = {"ref": fresh_dir(os.path.join(bench.run_dir, "ref"))}
        for t in wl.tables:
            shutil.copy(os.path.join(gen.REF_DIR, f"{t}.parquet"), inputs["ref"])
        for seed in args.seeds:
            inputs[f"seed {seed}"] = os.path.join(bench.run_dir, f"seed{seed}")
            gen.generate(inputs[f"seed {seed}"], seed, only=wl.tables)

        log_dir = fresh_dir(os.path.join(bench.run_dir, "eventlog"))
        bench.start_session(event_log=log_dir)
        import __spark_entry__ as entry

        bench.queries = entry.queries()

        def use(i: int, path: str, fresh: bool) -> None:
            bench.input_dir = path
            bench.use_roots(f"input{i}", fresh=fresh)
            os.environ["GDALOS_BUCKETED_ROOT"] = os.path.join(bench.state_dir, bench.roots, "bucketed")

        for i, path in enumerate(inputs.values()):
            use(i, path, fresh=True)
            if wl.stage:
                from gdalos_spark.sources.bucketed import stage_facts

                stage_facts(bench.spark, path)
            for _ in range(WARM_PASSES + 1):
                bench.run_pass()
        # one pass per input in turn, so a drift of the JVM hits every input alike
        recs = {label: [] for label in inputs}
        for _ in range(args.passes):
            for i, (label, path) in enumerate(inputs.items()):
                use(i, path, fresh=False)
                recs[label] += bench.run_pass(split=True)["ops"]
        bench.stop_session()

        ev = EventLog(log_dir)
        print("| key | input | wall_s | build_s | jobs | rows |")
        print("| --- | --- | --- | --- | --- | --- |")
        for key in wl.keys:
            for label, ops in recs.items():
                rows = [op_layers(r, ev, bench.spans) for r in ops if r["key"] == key]
                out = {r.get("rows") for r in ops if r["key"] == key}
                print(f"| `{key}` | {label} "
                      f"| {statistics.median(r['wall_s'] for r in rows):.3f} "
                      f"| {statistics.median(r['operators.build_s'] for r in rows):.3f} "
                      f"| {statistics.median(r['spark.jobs'] for r in rows):g} "
                      f"| {', '.join(str(n) for n in sorted(out, key=str))} |")
    finally:
        bench.stop_session()
        bench.shutdown_jvm()
        shutil.rmtree(bench.run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
