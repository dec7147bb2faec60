"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics,
measured in a separate traced run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    sys.path.insert(0, ROOT)
    import harness
    import wl_statefold
    import wl_wordcount
    import wl_batch

    runners = {
        "wordcount_stream": wl_wordcount.run,
        "keyed_state_fold": wl_statefold.run,
        "batch_probe": wl_batch.run,
    }
    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        e2e, layers = runners[args.workload](run)
        e2e["setup_s"] = run.t_setup_end - run.t_proc
        if args.trace:
            layers.update(run.layers)
            unknown = sorted(set(layers) - set(units))
            if unknown:
                raise RuntimeError(f"per-layer metrics not declared in BENCHMARK.json: {unknown}")
            # a layer this workload never calls reads 0
            values = {name: float(layers.get(name, 0.0)) for name in units}
        else:
            values = {name: float(e2e[name]) for name in units}
            bad = [name for name, v in values.items() if not math.isfinite(v) or v <= 0]
            if bad:
                raise RuntimeError(f"end-to-end metrics not measured: {bad}")
        harness.emit(run, values, units)
    except Exception:  # noqa: BLE001 - the run is over; report and exit non-zero
        traceback.print_exc()
        return 1
    finally:
        run.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
