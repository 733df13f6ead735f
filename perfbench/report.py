"""Read the benchmark's run records and explain where the time went.

    python3 perfbench/report.py [results_dir]

For each workload with a traced run (``--trace 1``) it prints:

- the request tail over all untraced runs pooled: the highest percentile
  with at least 10 samples beyond it (one run holds too few);
- layers ranked by self time, as a share of the summed request wall, for
  the workload and for each request kind;
- the layer split the workloads are designed to show: the share of the
  wall no Spark job covers (driver gap), executor run time over the wall,
  and the streaming layer's share of the stream requests' wall;
- each per-layer metric next to the end-to-end metric it should move and
  that metric's median over the untraced runs of the same workload;
- the tracing overhead: traced over untraced request wall, for every seed
  run both ways (same seed, same requests).
"""
from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import tracing as tr  # noqa: E402


def load(results_dir: str) -> dict:
    runs: dict = {}
    for path in sorted(glob.glob(os.path.join(results_dir, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        runs.setdefault(r["workload"], {}).setdefault(r["trace"], []).append(r)
    return runs


def self_time_shares(traced: list, kind: str | None = None) -> tuple[list, float]:
    """(layer, share of request wall) ranked, and the summed wall."""
    by_layer: dict = {}
    wall = 0.0
    for r in traced:
        kinds = {rec["index"]: rec["kind"] for rec in r["records"]}
        spans = [s for s in r["spans"] if kind is None or kinds.get(s["request"]) == kind]
        st = tr.self_times(spans)
        for s in spans:
            layer = s["name"].split(".")[0]
            by_layer[layer] = by_layer.get(layer, 0.0) + st[s["id"]]
            if s["parent"] is None:
                wall += s["end"] - s["start"]
    ranked = sorted(by_layer.items(), key=lambda kv: -kv[1])
    return [(k, v / wall if wall else 0.0) for k, v in ranked], wall


def layer_split(traced: list) -> dict:
    wall = gap = run = 0.0
    stream_wall = stream_time = 0.0
    for r in traced:
        spans_by_req: dict = {}
        for s in r["spans"]:
            spans_by_req.setdefault(s["request"], []).append(s)
        for rec in r["records"]:
            if rec["start"] is None:
                continue
            w = rec["end"] - rec["start"]
            wall += w
            gap += rec["layers"].get("spark.driver_gap_s", 0.0)
            run += rec["layers"].get("spark.executor_run_s", 0.0)
            streaming = [s for s in spans_by_req.get(rec["index"], [])
                         if s["name"].startswith("streaming.")]
            if streaming:
                stream_wall += w
                stream_time += sum(s["end"] - s["start"] for s in streaming)
    out = {
        "driver gap / wall": gap / wall if wall else 0.0,
        "executor run / wall": run / wall if wall else 0.0,
    }
    if stream_wall:
        out["streaming spans / stream-request wall"] = stream_time / stream_wall
    return out


def overhead(untraced: list, traced: list) -> list:
    """(seed, traced/untraced summed wall over the requests both ran)."""
    base = {r["seed"]: r for r in untraced}
    out = []
    for t in traced:
        u = base.get(t["seed"])
        if u is None:
            continue
        lu = {rec["index"]: rec["latency_s"] for rec in u["records"] if rec["ok"]}
        lt = {rec["index"]: rec["latency_s"] for rec in t["records"] if rec["ok"]}
        common = sorted(set(lu) & set(lt))
        if common:
            out.append((t["seed"], sum(lt[i] for i in common) / sum(lu[i] for i in common)))
    return out


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    results_dir = argv[0] if argv else os.path.join(HERE, "out", "results")
    runs = load(results_dir)
    if not runs:
        print(f"no run records in {results_dir}", file=sys.stderr)
        return 1
    for workload, by_trace in sorted(runs.items()):
        traced, untraced = by_trace.get(1, []), by_trace.get(0, [])
        print(f"== {workload}: {len(untraced)} untraced, {len(traced)} traced runs")
        if untraced:
            e2e = {m: tr.median([r["end_to_end"][m]["value"] for r in untraced])
                   for m in untraced[0]["end_to_end"]}
            print("end-to-end medians: " + ", ".join(f"{k} {v:.4g}" for k, v in e2e.items()))
            lat = [rec["latency_s"] for r in untraced for rec in r["records"]
                   if rec["latency_s"] is not None]
            tail = tr.tail(lat)
            if tail:
                e2e["request_tail_s"] = tail[0]
                print(f"request_tail_s {tail[0]:.4g} s at p{tail[1]:.1f} of {len(lat)} "
                      "requests pooled over the untraced runs (10 beyond it)")
        else:
            e2e = {}
        if not traced:
            continue
        shares, wall = self_time_shares(traced)
        print(f"self time by layer (share of {wall:.1f} s request wall):")
        for layer, share in shares:
            print(f"  {layer:<12} {share:7.1%}")
        kinds = sorted({rec["kind"] for r in traced for rec in r["records"]})
        if len(kinds) > 1:
            for kind in kinds:
                ks, kw = self_time_shares(traced, kind)
                top = ", ".join(f"{k} {v:.0%}" for k, v in ks[:3])
                print(f"  [{kind}] {kw:.1f} s: {top}")
        for k, v in layer_split(traced).items():
            print(f"layer split: {k} = {v:.2f}")
        print(f"{'per-layer metric':<32} {'median':>12}  should move")
        for name, (unit, _better) in layers.declared("per_layer").items():
            moves, wls = layers.TARGETS.get(name, ("", ()))
            vals = [r["per_layer"][name]["value"] for r in traced if name in r["per_layer"]]
            value = tr.median(vals)
            if not value and workload not in wls:
                continue
            target = ", ".join(
                f"{m}" + (f" ({e2e[m]:.4g})" if workload in wls and m in e2e else "")
                for m in moves.split(","))
            where = "here" if workload in wls else "/".join(wls)
            print(f"  {name:<30} {value:>12.4g} {unit:<5} {target} on {where}")
        for seed, ratio in overhead(untraced, traced):
            print(f"tracing overhead, seed {seed}: traced/untraced request wall = {ratio:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
