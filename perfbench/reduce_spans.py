"""Reduces the span files of traced benchmark runs.

    python3 perfbench/run.py --workload crowd_stream --seed 1 --trace 1
    python3 perfbench/run.py --workload crowd_stream --seed 1 --trace 0
    python3 perfbench/reduce_spans.py [--out DIR] [--workload NAME]

For every traced run found under the output directory (by default the
build directory's `out/`), prints per layer: the number of spans, their
total and self time (a span's duration minus the part its child spans
cover), and the time work waited before the layer started on it. Then
prints the run's per-layer metrics, and the tracing overhead: how much the
traced run's end-to-end figures differ from the median of the untraced
runs of the same workload found there. Runs with --tiny write to the
build directory's `out-tiny/`.
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

OVERHEAD_METRICS = ("latency_ms", "throughput_per_s")


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of the intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def reduce_layers(spans):
    """{layer: {spans, total_ms, self_ms, wait_ms}} of one run."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    layers = defaultdict(lambda: {"spans": 0, "total_ms": 0.0, "self_ms": 0.0, "wait_ms": 0.0})
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        row = layers[s["layer"]]
        row["spans"] += 1
        row["total_ms"] += dur
        row["self_ms"] += dur - covered(s["start_ms"], s["end_ms"], children.get(s["id"], []))
        row["wait_ms"] += s["wait_ms"]
    return layers


def load(path):
    return json.loads(path.read_text())


def main():
    ap = argparse.ArgumentParser(description="Per-layer self time, wait and counts of traced runs.")
    ap.add_argument("--out", type=Path, default=build.build_dir() / "out")
    ap.add_argument("--workload")
    a = ap.parse_args()
    span_files = sorted((a.out / "spans").glob("*.jsonl"))
    if a.workload:
        span_files = [f for f in span_files if f.name.startswith(a.workload + "-")]
    if not span_files:
        print(f"no span files under {a.out / 'spans'}; run with --trace 1 first", file=sys.stderr)
        return 1
    results = a.out / "results"
    for f in span_files:
        run_id = f.stem                       # <workload>-seed<n>-trace1
        workload = run_id.rsplit("-", 2)[0]
        spans = [json.loads(line) for line in f.read_text().splitlines() if line.strip()]
        print(f"== {run_id}: {len(spans)} spans")
        print(f"  {'layer':<12}{'spans':>8}{'total_ms':>14}{'self_ms':>14}{'wait_ms':>14}")
        for layer, r in sorted(reduce_layers(spans).items()):
            print(f"  {layer:<12}{r['spans']:>8}{r['total_ms']:>14.1f}{r['self_ms']:>14.1f}{r['wait_ms']:>14.1f}")
        traced_file = results / f"{run_id}.json"
        if not traced_file.is_file():
            continue
        traced = load(traced_file)["metrics"]
        print("  per-layer metrics:")
        for name, m in traced.items():
            if "." in name:
                print(f"    {name:<40}{m['value']:>16.4f} {m['unit']}")
        untraced = sorted(results.glob(f"{workload}-seed*-trace0.json"))
        if not untraced:
            print("  tracing overhead: no untraced run of this workload to compare")
            continue
        base = [load(u)["metrics"] for u in untraced]
        for name in OVERHEAD_METRICS:
            vals = [b[name]["value"] for b in base if name in b]
            if name in traced and vals:
                ref = statistics.median(vals)
                print(f"  tracing overhead {name}: traced {traced[name]['value']:.3f} vs untraced "
                      f"median {ref:.3f} {traced[name]['unit']} ({traced[name]['value'] / ref - 1:+.1%}, "
                      f"{len(vals)} untraced run(s))")
    return 0


if __name__ == "__main__":
    sys.exit(main())
