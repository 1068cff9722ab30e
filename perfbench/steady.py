"""Steadiness tool: run one workload N times, each with another seed,
and print per end-to-end metric the median, the quartiles and the
spread (interquartile distance over the median) against the bound in
BENCHMARK.json.

    python3 perfbench/steady.py --workload analytics --runs 10 --save a.json
    python3 perfbench/steady.py --workload analytics --runs 10 --against a.json

``--against`` compares this set's medians with a saved set's: a
metric fails when the new median is worse than the saved one by more
than its bound. Every metric, ``setup_s`` too, is held to its bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900, check=False)
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["elapsed_s"] = time.perf_counter() - t
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, IQR / median)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def summarize(spec: dict, runs: list[dict], against: dict | None) -> bool:
    ok = True
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>8}{'bound':>7}  verdict")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        values = [r["metrics"][name]["value"] for r in runs]
        med, q1, q3, sp = spread(values)
        verdict = "ok" if sp <= bound / 3 else ("within bound" if sp <= bound else "TOO WIDE")
        if sp > bound:
            ok = False
        if against is not None:
            old = statistics.median(against[name])
            worse = (med - old) / old if m["better"] == "lower" else (old - med) / old
            verdict += f"; vs saved median {old:.4g}: {worse:+.1%}"
            if worse > bound:
                ok = False
                verdict += " WORSE THAN BOUND"
        print(f"{name:<14}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{sp:>8.3f}{bound:>7.2f}  {verdict}")
    return ok


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--save", type=Path, help="write this set's values here")
    p.add_argument("--against", type=Path, help="compare medians with a set saved by --save")
    args = p.parse_args(argv)
    spec = load_spec()
    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        r = run_once(spec, args.workload, seed)
        runs.append(r)
        print(
            f"seed {seed}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']} "
            f"elapsed={r['elapsed_s']:.1f}s "
            + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
            flush=True,
        )
    against = json.loads(args.against.read_text(encoding="utf-8")) if args.against else None
    ok = summarize(spec, runs, against) and all(r["correct"] for r in runs)
    if args.save:
        values = {m["name"]: [r["metrics"][m["name"]]["value"] for r in runs] for m in spec["end_to_end"]}
        values["elapsed_s"] = [r["elapsed_s"] for r in runs]
        args.save.write_text(json.dumps(values, indent=2), encoding="utf-8")
    print(f"mean run {statistics.mean(r['elapsed_s'] for r in runs):.1f}s; {'steady' if ok else 'NOT steady'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
