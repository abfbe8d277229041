"""Steadiness mode: run one workload several times and compare each
end-to-end metric's spread with its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload read --seeds 1-10 [--sets 2]

For every metric it prints the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them), the spread
``(q3 - q1) / median`` and the bound. With ``--sets 2`` the seeds run
twice and the second median's drift in the metric's worse direction is
compared with the bound as well. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(bench: dict, workload: str, seed: int, trace: int = 0) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}")
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["report"] = next(
        (json.loads(x[len("report "):]) for x in lines if x.startswith("report ")), {}
    )
    return res


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--sets", type=int, default=1, choices=[1, 2])
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    sets = []
    for n in range(args.sets):
        runs = []
        for seed in seeds(args.seeds):
            r = run_once(bench, args.workload, seed)
            runs.append(r)
            print(f"set {n + 1} seed {seed}: wall {r['wall_s']:.1f}s correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                  + " | " + " ".join(f"{k}={v['value']:.4g}"
                                     for k, v in r["report"].get("metrics", {}).items()),
                  flush=True)
        sets.append(runs)

    ok = all(r["correct"] for runs in sets for r in runs)
    summary = {}
    for name, m in metrics.items():
        per_set = [summarize([r["metrics"][name]["value"] for r in runs]) for runs in sets]
        row = {"bound": m["bound"], "sets": per_set}
        line = f"{name:>14}: bound {m['bound']:.3f}"
        for i, s in enumerate(per_set):
            line += (f" | set{i + 1} median {s['median']:.4g} q1 {s['q1']:.4g} "
                     f"q3 {s['q3']:.4g} spread {s['spread']:.3f}")
            if name != "setup_s" and s["spread"] > m["bound"]:
                ok = False
        if len(per_set) == 2:
            a, b = per_set[0]["median"], per_set[1]["median"]
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            row["drift"] = worse
            line += f" | drift {worse:+.3f}"
            if worse > m["bound"]:
                ok = False
        summary[name] = row
        print(line)
    walls = [r["wall_s"] for runs in sets for r in runs]
    print(json.dumps({"workload": args.workload, "ok": ok, "mean_wall_s": statistics.fmean(walls),
                      "metrics": summary}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
