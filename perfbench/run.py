#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest|query_mix> --seed <n> --seconds <s> --trace <0|1>

Runs one workload from the checkout root and prints, as its last line
of standard output, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` they are
its per-layer metrics, measured in a separate traced run. A layer that
a workload leaves idle reads 0. Progress notes go to standard error.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from common import CHECKOUT, adopt_orphans, cpu_steal, end_children, log  # noqa: E402

WORKLOADS = ("ingest", "query_mix")


def load_spec() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_workload(name: str, seed: int, seconds: int, trace: bool):
    if name == "query_mix":
        import querymix

        return querymix.run(seed, seconds, trace)
    import ingest

    return ingest.run(seed, seconds, trace)


def result_line(res, spec: dict, trace: bool) -> dict:
    """The final line: every metric the spec lists for this mode, with
    the spec's unit. Per-layer metrics of idle layers read 0."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    for m in wanted:
        if m["name"] not in res.metrics:
            if not trace:
                raise RuntimeError(f"end-to-end metric {m['name']} was not measured")
            res.put(m["name"], 0.0, m["unit"])
        elif res.metrics[m["name"]][1] != m["unit"]:
            raise RuntimeError(f"{m['name']}: unit {res.metrics[m['name']][1]} != {m['unit']}")
    return res.line([m["name"] for m in wanted])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = load_spec()
    steal0 = cpu_steal()
    # a SIGTERM unwinds like an error, so that the cleanup below runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    adopt_orphans()
    try:
        res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        end_children()
    steal1 = cpu_steal()
    log(f"cpu steal during the run: "
        f"{100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.1f}%")
    for note in res.notes:
        log(f"FAILED: {note}")
    print(json.dumps(result_line(res, spec, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
