#!/usr/bin/env python3
"""Steadiness check: two sets of runs of the same code, compared.

    python3 perfbench/steady.py --runs 5                  # all workloads
    python3 perfbench/steady.py --runs 3 --workloads corpus_prep
    python3 perfbench/steady.py --runs 3 --traced-second  # tracing overhead

Runs of the two sets alternate (A, B, B, A, ...) so drift on the machine
lands on both; every run gets its own seed. For each workload and
end-to-end metric it prints each set's median and quartiles, the spread
(interquartile range over median) of each set and of all runs pooled,
and whether the sets agree within the metric's bound in BENCHMARK.json:
each set's spread within the bound, the two medians within the bound of
each other in either direction, and the same share of failed
operations. With ``--traced-second`` the second set runs
traced, and the median ratio between the sets is the tracing overhead.
The full record goes to ``.perfbench/steady-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(bench: dict, workload: str, seed: int, traced: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", str(int(traced))]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    if traced:  # the end-to-end figures of a traced run are in its trace file
        with open(os.path.join(ROOT, ".perfbench", "trace", f"{workload}-{seed}.json")) as fh:
            line["metrics"] = {k: {"value": v[0]} for k, v in json.load(fh)["end_to_end"].items()}
    line["seed"], line["wall_s"] = seed, wall
    return line


def stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def compare(bench: dict, a: list[dict], b: list[dict]) -> dict:
    out = {}
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        sa = stats([r["metrics"][name]["value"] for r in a])
        sb = stats([r["metrics"][name]["value"] for r in b])
        pooled = stats([r["metrics"][name]["value"] for r in a + b])
        ratio = sb["median"] / sa["median"]
        out[name] = {
            "bound": bound, "first": sa, "second": sb, "pooled": pooled,
            "second_vs_first": ratio,
            "agree": sa["spread"] <= bound and sb["spread"] <= bound and abs(ratio - 1) <= bound,
        }
    share = lambda runs: sorted({(r["failed"], r["attempted"]) for r in runs})  # noqa: E731
    out["failed_share_equal"] = {
        "first": share(a), "second": share(b),
        "agree": {f / n for f, n in share(a)} == {f / n for f, n in share(b)},
    }
    return out


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=5, help="runs per set and workload")
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced-second", action="store_true")
    args = ap.parse_args(argv)

    report = {"run_seconds": bench["run_seconds"], "runs_per_set": args.runs, "workloads": {}}
    seed = args.first_seed
    for workload in args.workloads.split(","):
        sets: tuple[list, list] = ([], [])
        for i in range(args.runs):
            order = (0, 1) if i % 2 == 0 else (1, 0)
            for which in order:
                run = one_run(bench, workload, seed, traced=which == 1 and args.traced_second)
                seed += 1
                sets[which].append(run)
                print(f"{workload} set {'AB'[which]} seed {run['seed']}: "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in run["metrics"].items())
                      + f" wall={run['wall_s']:.1f}s correct={run['correct']} failed={run['failed']}",
                      file=sys.stderr, flush=True)
        report["workloads"][workload] = {"runs": {"first": sets[0], "second": sets[1]},
                                         "compare": compare(bench, *sets)}

    for workload, r in report["workloads"].items():
        for name, c in r["compare"].items():
            if name == "failed_share_equal":
                print(f"{workload:17s} failed share {c['first']} vs {c['second']} agree={c['agree']}")
                continue
            f, s, p = c["first"], c["second"], c["pooled"]
            print(f"{workload:17s} {name:14s} A {f['median']:.4g} [{f['q1']:.4g}, {f['q3']:.4g}] "
                  f"B {s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] spread A {f['spread']:.3f} "
                  f"B {s['spread']:.3f} pooled {p['spread']:.3f} B/A {c['second_vs_first']:.3f} "
                  f"bound {c['bound']} agree={c['agree']}")
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    path = os.path.join(ROOT, ".perfbench", f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"record: {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
