"""Run-to-run agreement check: two sets of runs of one commit, compared
with the bounds in BENCHMARK.json.

    python3 cdcbench/compare.py --runs 10                # both sets, every workload
    python3 cdcbench/compare.py --runs 5 --sets 1 --workloads batch_cow_auto
    python3 cdcbench/compare.py --overhead --runs 3      # traced vs untraced, same seeds

Run from the repository root. Every run gets its own seed. For each
workload and end-to-end metric it prints the median of each set and the
spread of each set (quartile distance over median, as
``statistics.quantiles(values, n=4)`` gives the quartiles), and fails
(exit 1) when any spread, ``setup_s``'s included, exceeds the metric's
bound, when the two medians differ by more than the bound (either way),
when any run is incorrect, or when any operation failed. Raw results go to
``cdcbench/_work/compare-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = wall
    # host-wide CPU steal over the run, as run.py logs it: CPU seconds
    # the hypervisor gave this machine's CPUs to other guests
    m = re.search(r"cpu steal during run ([\d.]+)s", p.stderr)
    res["steal_s"] = float(m.group(1)) if m else None
    return res


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def differ_by(first: float, second: float) -> float:
    """How far ``second`` is from ``first``, as a share of ``first``."""
    return abs(second - first) / first


def compare(spec: dict, sets: list[dict]) -> bool:
    ok = True
    for w in [x["name"] for x in spec["workloads"]]:
        runs = [s[w] for s in sets if w in s]
        if not runs:
            continue
        print(f"\n{w}: {len(runs[0])} runs per set, wall {statistics.median(r['wall_s'] for r in runs[0]):.1f}s median")
        every = [r for rs in runs for r in rs]
        if any(not r["correct"] or r["failed"] for r in every):
            print(f"  FAIL correctness: correct={[r['correct'] for r in every]} "
                  f"failed={[r['failed'] for r in every]}")
            ok = False
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r["metrics"][name]["value"] for r in rs] for rs in runs]
            meds = [statistics.median(v) for v in vals]
            sps = [spread(v) for v in vals]
            line = (f"  {name:22s} median " + " / ".join(f"{x:.4g}" for x in meds)
                    + "  spread " + " / ".join(f"{x:.3f}" for x in sps) + f"  bound {bound}")
            bad = [f"spread {x:.3f} > {bound}" for x in sps if x > bound]
            if len(meds) == 2 and differ_by(meds[0], meds[1]) > bound:
                bad.append(f"medians differ by {differ_by(meds[0], meds[1]):.3f}")
            if bad:
                ok = False
                line += "  FAIL " + "; ".join(bad)
            elif max(sps) > bound / 3:
                line += "  (spread above a third of the bound)"
            print(line)
    return ok


def overhead(spec: dict, seed0: int, runs: int) -> None:
    """``runs`` pairs per workload, an untraced and a traced run on the
    same seed each; compares the medians over the pairs. The traced run
    reports its own epoch latency and change latency under the per-layer
    names trace.epoch_latency_s / trace.change_visible_s. Raw results go
    to ``cdcbench/_work/overhead-<time>.json``."""
    out = {}
    for w in [x["name"] for x in spec["workloads"]]:
        plain, traced = [], []
        for r in range(runs):
            plain.append(run_once(spec, w, seed0 + r, 0))
            traced.append(run_once(spec, w, seed0 + r, 1))
        for name in ("epoch_latency_s", "change_visible_s"):
            a = statistics.median(x["metrics"][name]["value"] for x in plain)
            b = statistics.median(x["metrics"][f"trace.{name}"]["value"] for x in traced)
            print(f"{w:18s} {name:18s} untraced {a:.3f}s traced {b:.3f}s "
                  f"overhead {b - a:+.3f}s ({(b - a) / a:+.1%}) over {runs} pairs, "
                  f"steal untraced {[x['steal_s'] for x in plain]} "
                  f"traced {[x['steal_s'] for x in traced]}", flush=True)
        out[w] = {"untraced": plain, "traced": traced}
    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    with open(os.path.join(HERE, "_work", f"overhead-{int(time.time())}.json"), "w") as f:
        json.dump(out, f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    spec = load_spec()
    if args.workloads:
        keep = set(args.workloads.split(","))
        spec["workloads"] = [w for w in spec["workloads"] if w["name"] in keep]
    if args.overhead:
        overhead(spec, args.seed0, args.runs)
        return 0
    sets = []
    for s in range(args.sets):
        res: dict[str, list] = {}
        for r in range(args.runs):
            for w in [x["name"] for x in spec["workloads"]]:
                seed = args.seed0 + 1000 * s + r
                out = run_once(spec, w, seed, 0)
                res.setdefault(w, []).append(out)
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items())
                print(f"set {s + 1} run {r + 1} {w} seed {seed} wall {out['wall_s']:.1f}s "
                      f"steal {out['steal_s']}s {vals}",
                      flush=True)
        sets.append(res)
    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    with open(os.path.join(HERE, "_work", f"compare-{int(time.time())}.json"), "w") as f:
        json.dump(sets, f)
    return 0 if compare(spec, sets) else 1


if __name__ == "__main__":
    sys.exit(main())
