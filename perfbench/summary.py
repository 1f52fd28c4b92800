"""Summarize the runs kept under .bench_out/ by perfbench/run.py.

Usage (from the root of a checkout, after traced and untraced runs):
  python3 perfbench/summary.py [workload ...]

For each workload it prints
  * the median of every end-to-end metric over its untraced runs;
  * per layer, the self time of the traced runs' spans (span time minus
    the part its child spans cover), as seconds and as a share of the
    measured window, with the span count;
  * every other per-layer metric of the traced runs (median);
  * the tracing overhead: each end-to-end metric of the traced runs minus
    that of the untraced runs (medians), absolute and relative.
"""
import glob
import json
import statistics
import sys


def load(workload):
    runs = [json.load(open(f)) for f in sorted(glob.glob(f".bench_out/{workload}-seed*-trace*.json"))]
    return [r for r in runs if not r["traced"]], [r for r in runs if r["traced"]]


def self_times(run):
    """Self seconds and span count per layer (first name segment)."""
    spans = run["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ms"], s["start_ms"] + s["dur_ms"]
        iv = sorted((max(k["start_ms"], start), min(k["start_ms"] + k["dur_ms"], end))
                    for k in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        layer = s["name"].split(".")[0]
        secs, n = out.get(layer, (0.0, 0))
        out[layer] = (secs + (s["dur_ms"] - covered) / 1000.0, n + 1)
    return out


def med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def main():
    workloads = sys.argv[1:] or ["live", "lifecycle", "batch"]
    for w in workloads:
        plain, traced = load(w)
        print(f"== {w}: {len(plain)} untraced, {len(traced)} traced runs")
        if plain:
            keys = plain[0]["e2e"].keys()
            print("  end-to-end (untraced medians)")
            for k in keys:
                print(f"    {k:24s} {med(r['e2e'].get(k) for r in plain)}")
        if traced:
            print("  self time by layer (traced, whole run incl. set-up)")
            layers = {}
            for r in traced:
                for layer, (secs, n) in self_times(r).items():
                    layers.setdefault(layer, []).append((secs, n))
            for layer, xs in sorted(layers.items()):
                print(f"    {layer:12s} {med(x[0] for x in xs):9.3f} s   "
                      f"{med(x[1] for x in xs):8.0f} spans")
            print("  per-layer metrics (traced medians)")
            for k in traced[0]["layers"]:
                print(f"    {k:44s} {med(r['layers'].get(k) for r in traced)}")
        if plain and traced:
            print("  tracing overhead (traced − untraced medians)")
            for k in plain[0]["e2e"]:
                a = med(r["e2e"].get(k) for r in traced)
                b = med(r["e2e"].get(k) for r in plain)
                if a is not None and b:
                    print(f"    {k:24s} {a - b:+12.3f}  ({(a - b) / b:+.1%})")


if __name__ == "__main__":
    main()
