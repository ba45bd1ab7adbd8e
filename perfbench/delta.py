#!/usr/bin/env python3
"""Layer delta between two sets of traced runs.

    python3 perfbench/delta.py BASE.json [BASE.json ...] -- NEW.json [NEW.json ...]

Each file is a trace summary that ``run.py --trace 1`` leaves under
``.perfbench_work/traces/``. Counters (counts and bytes) are deterministic,
so they are diffed exactly; times and ratios are compared as medians over
the given runs, against the spread of the base runs. The layer whose
counters moved is named first; failing that, the layer whose times moved
beyond the base spread. Per-op (per-row) counters that changed are listed
too, so a move can be traced to the op that made it.
"""
import json
import statistics
import sys

# layer -> metric-name prefixes, after the layer table in BENCHMARK.json
LAYERS = [
    ("scheduler", ("spark.jobs", "spark.stages", "spark.tasks")),
    ("driver", ("driver.", "spark.jobs_concurrent")),
    ("catalyst", ("plan.",)),
    ("sources.read", ("scan.",)),
    ("sources.write", ("write.", "store.", "ingest.")),
    ("executor", ("executor.", "shuffle.", "spill.")),
    ("streaming", ("stream.",)),
    ("pins", ("pin.", "storage.")),
]
COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks", "plan.queries", "scan.files",
            "scan.partitions", "scan.bytes", "write.files", "write.bytes", "stream.queries",
            "stream.batches", "pin.named", "storage.rdd_blocks", "storage.block_bytes",
            "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes")


def layer_of(metric):
    for layer, prefixes in LAYERS:
        if metric.startswith(prefixes):
            return layer
    return "other"


def spread(xs):
    """Interquartile distance, or 0 for fewer than two runs."""
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def diff(base, new):
    """Rows of (layer, metric, kind, base value, new value, moved)."""
    rows = []
    for m in sorted(base[0]["metrics"]):
        b = [r["metrics"][m] for r in base if isinstance(r["metrics"].get(m), (int, float))]
        n = [r["metrics"][m] for r in new if isinstance(r["metrics"].get(m), (int, float))]
        if not b or not n:
            continue
        if m in COUNTERS:
            unstable = len(set(b)) > 1 or len(set(n)) > 1
            moved = not unstable and b[0] != n[0]
            rows.append((layer_of(m), m, "count" + (" (varies)" if unstable else ""),
                         statistics.median(b), statistics.median(n), moved))
        else:
            mb, mn = statistics.median(b), statistics.median(n)
            band = max(spread(b), 0.05 * abs(mb))
            rows.append((layer_of(m), m, "median", mb, mn, abs(mn - mb) > band))
    return rows


def op_diff(base, new):
    """Ops whose deterministic counters changed between the first runs."""
    def by_op(run):
        return {f"{o['kind']}:{o['name']}#{i}": o for i, o in enumerate(run["ops"])}
    b, n = by_op(base[0]), by_op(new[0])
    out = []
    for k in b:
        if k in n:
            changed = [(m, b[k][m], n[k][m]) for m in COUNTERS if b[k].get(m) != n[k].get(m)]
            if changed:
                out.append((k, changed))
    return out


def load(paths):
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append(json.load(f))
    return runs


def main(argv):
    if "--" not in argv:
        print(__doc__)
        return 2
    i = argv.index("--")
    base, new = load(argv[:i]), load(argv[i + 1:])
    if not base or not new:
        print(__doc__)
        return 2
    rows = diff(base, new)
    print(f"{'layer':<14} {'metric':<26} {'kind':<15} {'base':>16} {'new':>16}  moved")
    for layer, m, kind, b, n, moved in rows:
        print(f"{layer:<14} {m:<26} {kind:<15} {b:>16.6g} {n:>16.6g}  {'*' if moved else ''}")
    for k, changed in op_diff(base, new)[:40]:
        print(f"op {k}: " + ", ".join(f"{m} {b}->{n}" for m, b, n in changed))
    counted = [r for r in rows if r[5] and r[2] == "count"]
    timed = [r for r in rows if r[5] and r[2] == "median"]
    if counted:
        layer = max(counted, key=lambda r: abs(r[4] - r[3]) / max(abs(r[3]), 1))[0]
        print(f"moved: {layer} (counters: {', '.join(r[1] for r in counted if r[0] == layer)})")
    elif timed:
        layer = max(timed, key=lambda r: abs(r[4] - r[3]) / max(abs(r[3]), 1e-9))[0]
        print(f"moved: {layer} (times only: {', '.join(r[1] for r in timed if r[0] == layer)})")
    else:
        print("moved: none (counters equal, times within the base spread)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
