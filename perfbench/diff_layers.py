#!/usr/bin/env python3
"""Layer-by-layer diff of two traced benchmark records.

    python3 perfbench/diff_layers.py BASE.json NEW.json

Each file is a records file written by `run.py --trace 1 --record FILE`
(one entry per workload). For every workload in both, prints each
per-layer metric's base and new value, the delta and the ratio new/base.
Times (`*_ms`) are first divided by the same run's `sentinel_ms`, a fixed
CPU-only plan timed in each run, so a slower or busier machine does not
read as a slower layer; counts and bytes are compared as recorded.
"""
import json
import sys


def normalised(metrics):
    sentinel = metrics["sentinel_ms"]["value"]
    out = {}
    for name, m in metrics.items():
        v = m["value"]
        if m["unit"] == "ms" and name != "sentinel_ms" and sentinel > 0:
            v = v / sentinel
        out[name] = v
    return out


def diff(base, new):
    lines = []
    for workload in sorted(set(base) & set(new)):
        b = base[workload]["result"]["metrics"]
        n = new[workload]["result"]["metrics"]
        bn, nn = normalised(b), normalised(n)
        lines.append(f"== {workload} (times in sentinel units; sentinel "
                     f"{b['sentinel_ms']['value']:.1f} -> {n['sentinel_ms']['value']:.1f} ms)")
        lines.append(f"{'metric':34} {'base':>14} {'new':>14} {'delta':>14} {'ratio':>8}")
        for name in b:
            if name not in n:
                continue
            x, y = bn[name], nn[name]
            ratio = f"{y / x:8.3f}" if x else "       -"
            lines.append(f"{name:34} {x:14.4g} {y:14.4g} {y - x:14.4g} {ratio}")
    return "\n".join(lines)


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    base, new = (json.load(open(p)) for p in sys.argv[1:])
    print(diff(base, new))


if __name__ == "__main__":
    main()
