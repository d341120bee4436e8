#!/usr/bin/env python3
"""Compare two benchmark records written by run.py.

    python3 perfbench/compare.py perfbench/work/results/betting-s1-t0.json OTHER.json

Refuses, with exit code 2, to compare records whose run context differs
in anything that changes what is measured, or whose seeds differ: the
seed fixes the inputs and the operation order, and operation order
alone shifts pass times. The git commit may differ; that is what is
being compared.

For two records of the same kind it prints each metric of both and the
relative change. For an untraced and a traced record of the same seed
it prints the tracing overhead: traced ``trace.pass_s`` minus untraced
``pass_s``, and per operation the traced construct + exec seconds
against the untraced latency (each operation's best warm latency).
"""

from __future__ import annotations

import json
import sys

from run import op_best

CONTEXT_KEYS = (
    "workload", "seed", "cpus", "nproc", "master", "input", "tree",
    "shuffle_partitions", "pyspark", "seconds", "ops",
)


def mismatches(a: dict, b: dict) -> list[str]:
    """Context fields on which two records differ."""
    ca, cb = a["context"], b["context"]
    return [k for k in CONTEXT_KEYS if ca.get(k) != cb.get(k)]


def tracing_overhead(untraced: dict, traced: dict) -> dict:
    base = op_best(untraced["operations"], untraced["measured_passes"])
    with_trace = op_best(traced["operations"], traced["measured_passes"])
    return {
        "pass_s": traced["metrics"]["trace.pass_s"] - untraced["metrics"]["pass_s"],
        "ops": {op: with_trace[op] - base[op] for op in base if op in with_trace},
    }


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    a, b = (json.load(open(path)) for path in argv)
    bad = mismatches(a, b)
    if bad:
        for key in bad:
            print(f"context mismatch on {key}: {a['context'].get(key)!r} vs {b['context'].get(key)!r}")
        print("refusing to compare")
        return 2
    ta, tb = a["context"]["trace"], b["context"]["trace"]
    if ta != tb:
        untraced, traced = (a, b) if tb else (b, a)
        over = tracing_overhead(untraced, traced)
        print(f"tracing overhead: pass_s {over['pass_s']:+.4f} s")
        for op, delta in sorted(over["ops"].items()):
            print(f"  {op:40s} {delta:+.4f} s")
        return 0
    for name, va in a["metrics"].items():
        vb = b["metrics"].get(name)
        if vb is None:
            continue
        change = (vb - va) / va if va else float("nan")
        print(f"{name:32s} {va:16.6f} {vb:16.6f} {change:+8.2%} {a['units'][name]}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
