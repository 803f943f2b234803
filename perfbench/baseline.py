#!/usr/bin/env python3
"""Repeated runs of the benchmark, summarised per workload and metric.

    python3 perfbench/baseline.py --seeds 1-10 [--workloads a,b] [--traced-seed 1]
                                  [--out perfbench/baseline.json] [--md perfbench/BASELINE.md]

Runs ``run.py`` once per seed and workload (untraced), then one traced run
per workload. For each end-to-end metric it reports the median, the
quartiles (``statistics.quantiles(n=4)``), the spread (quartile distance
over median) against the metric's bound, and the sample count; for the
traced run it keeps the per-layer table and the tracing overhead (traced
minus untraced end-to-end medians). Run from the repository root.
"""

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed:\n{r.stderr[-3000:]}")
    return json.loads(lines[-1]), lines[:-1]


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "n": len(values), "values": values}


def render_md(report):
    """The record as markdown: end-to-end medians with quartiles, the
    traced per-layer table, the tracing overhead."""
    h = report["host"]
    out = [f"Host: nproc {h['nproc']}, {h['machine']}, driver heap {h['heap']}, "
           f"Spark {h['spark']}; run_seconds {report['run_seconds']}.", ""]
    for w, e in report["workloads"].items():
        out += [f"### {w}", "",
                f"{e['attempted']} operations attempted, {e['errors']} failed.", "",
                "| metric | unit | median | q1 | q3 | spread | bound | n |",
                "|---|---|---|---|---|---|---|---|"]
        for k, m in e["end_to_end"].items():
            out.append(f"| `{k}` | {m['unit']} | {m['median']:.4g} | {m['q1']:.4g} | "
                       f"{m['q3']:.4g} | {m['spread']:.3f} | {m['bound']} | {m['n']} |")
        if "per_layer" in e:
            out += ["", f"Traced run (seed {report['traced_seed']}):", "",
                    "| per-layer metric | value |", "|---|---|"]
            out += [f"| `{k}` | {v:.4g} |" for k, v in e["per_layer"].items()]
            out += ["", "| span | self time, s |", "|---|---|"]
            out += [f"| `{k}` | {v:.3f} |" for k, v in e["layer_self_s"].items()]
            out += ["", "| tracing overhead (traced − untraced median) | value |", "|---|---|"]
            out += [f"| `{k}` | {v:+.4g} |" for k, v in e["tracing_overhead"].items()]
        out.append("")
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--traced-seed", type=int)
    ap.add_argument("--out")
    ap.add_argument("--md")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"host": {"nproc": os.cpu_count(), "machine": platform.machine()},
              "run_seconds": bench["run_seconds"], "traced_seed": args.traced_seed,
              "workloads": {}}
    for w in names:
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            res, lines = run(w, s, bench["run_seconds"], 0)
            runs.append(res)
            print(f"{w} seed {s} ({time.time() - t0:.0f} s): correct={res['correct']} "
                  f"failed={res['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        e2e = {}
        for k in runs[0]["metrics"]:
            e2e[k] = summary([r["metrics"][k]["value"] for r in runs])
            e2e[k]["unit"] = runs[0]["metrics"][k]["unit"]
            e2e[k]["bound"] = bounds.get(k)
            print(f"  {k}: median {e2e[k]['median']:.4g} spread {e2e[k]['spread']:.3f}"
                  f" bound {bounds.get(k)}", flush=True)
        entry = {"end_to_end": e2e, "errors": sum(r["failed"] for r in runs),
                 "attempted": sum(r["attempted"] for r in runs),
                 "all_correct": all(r["correct"] for r in runs)}
        if args.traced_seed is not None:
            res, lines = run(w, args.traced_seed, bench["run_seconds"], 1)
            traced = {ln.split(": ")[0][len("# traced end-to-end "):]: float(ln.split(": ")[1])
                      for ln in lines if ln.startswith("# traced end-to-end ")}
            entry["per_layer"] = {k: v["value"] for k, v in res["metrics"].items()}
            entry["layer_self_s"] = {ln[len("# self time "):].split(": ")[0]:
                                     float(ln.split(": ")[1].split()[0])
                                     for ln in lines if ln.startswith("# self time ")}
            entry["tracing_overhead"] = {k: traced[k] - e2e[k]["median"]
                                         for k in traced if k in e2e}
            entry["traced_correct"] = res["correct"]
            head = next(ln for ln in lines if ln.startswith("# workload="))
            fields = dict(f.split("=", 1) for f in head[2:].split())
            report["host"].update(heap=f"{float(fields['heap_max_mb']) / 1024:.0f} GiB",
                                  spark=fields["spark"])
        report["workloads"][w] = entry
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
    if args.md:
        with open(args.md, "w") as fh:
            fh.write(render_md(report))


if __name__ == "__main__":
    main()
