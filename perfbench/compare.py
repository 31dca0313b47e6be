"""Run the benchmark over several seeds and judge the results against the
bounds in BENCHMARK.json.

    # ten runs of one workload, one result line per run appended to a file
    python3 perfbench/compare.py sweep --workload zipf_tokens --seeds 1-10 \\
        --out .bench_work/a.jsonl

    # spread of each end-to-end metric: (Q3 - Q1) / median, against its bound
    python3 perfbench/compare.py spread .bench_work/a.jsonl

    # is the second set's median worse than the first's by more than the bound?
    python3 perfbench/compare.py ab .bench_work/a.jsonl .bench_work/b.jsonl

Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from collections import defaultdict

from measure import median, quartile_spread, within_bound, worse_by

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def sweep(args) -> int:
    spec = _spec()
    for seed in _seeds(args.seeds):
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0",
        ]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        record = {"workload": args.workload, "seed": seed, **result}
        with open(args.out, "a") as f:
            f.write(json.dumps(record) + "\n")
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']}")
    return 0


def _load(path: str) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values, from the result lines of sweeps."""
    out: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            for name, m in rec["metrics"].items():
                out[rec["workload"]][name].append(m["value"])
    return out


def spread(args) -> int:
    bounds = {m["name"]: m for m in _spec()["end_to_end"]}
    ok = True
    for workload, metrics in _load(args.results).items():
        for name, vals in metrics.items():
            m = bounds[name]
            s = quartile_spread(vals)
            good = s <= m["bound"]
            ok &= good
            print(
                f"{workload:13s} {name:18s} n={len(vals):2d} median={median(vals):.6g} "
                f"spread={s:.3f} bound={m['bound']} ({s / m['bound']:.2f} of it)"
                f"{'' if good else '  OVER'}"
            )
    return 0 if ok else 1


def ab(args) -> int:
    bounds = {m["name"]: m for m in _spec()["end_to_end"]}
    base, new = _load(args.base), _load(args.new)
    ok = True
    for workload in sorted(base):
        for name, vals in base[workload].items():
            m = bounds[name]
            new_vals = new[workload][name]
            good = within_bound(vals, new_vals, m["bound"], m["better"])
            ok &= good
            w = worse_by(median(vals), median(new_vals), m["better"])
            print(
                f"{workload:13s} {name:18s} base={median(vals):.6g} new={median(new_vals):.6g} "
                f"worse_by={w:+.3f} bound={m['bound']}{'' if good else '  REGRESSED'}"
            )
    return 0 if ok else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("sweep")
    s.add_argument("--workload", required=True)
    s.add_argument("--seeds", required=True, help="a seed or an inclusive range, e.g. 1-10")
    s.add_argument("--out", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("results")
    a = sub.add_parser("ab")
    a.add_argument("base")
    a.add_argument("new")
    args = p.parse_args(argv)
    return {"sweep": sweep, "spread": spread, "ab": ab}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
