#!/usr/bin/env python3
"""Pair two benchmark records and print the end-to-end deltas.

    python3 perfbench/compare.py BEFORE.json AFTER.json

The records are the detail files run.py writes under `.perfbench/results/`.
Runs pair only when their effective configuration is the same (cores,
SPARK_GRAFT_CPUS, shuffle partitions, scratch medium, heap, JDK and Spark
versions, workload, seed, input size, run length); the commit may differ.
A mismatch is refused with exit code 2, naming every differing key.
"""
import json
import sys

# Keys that identify the code under test or a run-specific path, not the
# configuration the numbers depend on.
NOT_CONFIG = {"commit", "source_digest", "data_dir", "local_dir"}


def comparable(config):
    out = {k: v for k, v in config.items() if k not in NOT_CONFIG}
    local = config.get("local_dir") or ""
    out["scratch_medium"] = "tmpfs" if local.startswith("/dev/shm") else "disk"
    return out


def main(a_path, b_path):
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    ca, cb = comparable(a["config"]), comparable(b["config"])
    diff = sorted(k for k in set(ca) | set(cb) if ca.get(k) != cb.get(k))
    if diff:
        for k in diff:
            print(f"config differs: {k}: {ca.get(k)!r} vs {cb.get(k)!r}", file=sys.stderr)
        print("refusing to pair runs with different configurations", file=sys.stderr)
        return 2
    print(f"{a['config'].get('commit')} -> {b['config'].get('commit')}")
    for k, va in a["end_to_end"].items():
        vb = b["end_to_end"].get(k)
        rel = (vb - va) / va * 100 if va and vb is not None else float("nan")
        print(f"{k:16s} {va:12.4f} {vb:12.4f} {rel:+7.1f}%")
    print(f"{'failed':16s} {a['failed']:12d} {b['failed']:12d}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
