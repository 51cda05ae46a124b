"""Interleaved parent/change A/B of the end-to-end CDC drain benchmark.

Runs ``perfbench/run.py`` in two checkouts, one pair of runs per seed,
alternating which side runs first, and prints per metric each side's
median and quartiles, how many pairs the change won (ties count for
neither side) and whether the gain rule holds: every run is correct, the
change fails no more operations than the parent, the change wins at least
nine tenths of the pairs run and the medians differ by more than the
parent's interquartile range.

Usage:
  python tools/perf_ab.py <parent_checkout> <change_checkout> \\
      --workload trickle_commit --seeds 1401-1410 [--trace 1] [--out runs.jsonl]

Both checkouts run their own ``perfbench/`` with the same settings; the
drain length (``run_seconds``) and the metric directions come from the
parent's ``BENCHMARK.json``. Every run's result line (or its failure) is
appended to ``--out``. Exit 1 when a run fails or reports
``"correct": false``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

RUN_TIMEOUT_S = 1800


def parse_seeds(spec: str) -> list[int]:
    """``"A-B"`` (inclusive) or ``"A"``."""
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def directions(checkout: Path) -> dict[str, str]:
    """metric name -> "higher" or "lower", from BENCHMARK.json."""
    spec = json.loads((checkout / "BENCHMARK.json").read_text())
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}


def run_one(checkout: Path, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One perfbench run: its result line (and the untraced run's
    ``noise`` line before it), plus exit code and wall time."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"returncode": None, "wall_s": time.time() - t0, "error": "timeout"}
    out = {"returncode": p.returncode, "wall_s": time.time() - t0}
    lines = p.stdout.strip().splitlines()
    try:
        out.update(json.loads(lines[-1]))
    except (IndexError, json.JSONDecodeError):
        out["error"] = (p.stderr or p.stdout)[-2000:]
        return out
    if len(lines) > 1 and lines[-2].startswith('{"noise"'):
        out.update(json.loads(lines[-2]))
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> list[dict]:
    """Per metric, over the pairs in which both sides report it:
    quartiles and wins; and whether the gain rule holds, counting wins
    against every pair run. The rule never holds when a run is not
    correct or the change fails more operations than the parent."""
    def value(run, k):
        return run.get("metrics", {}).get(k, {}).get("value")

    all_correct = all(r.get("correct") is True for pair in pairs for r in pair)
    no_more_failed = sum(c.get("failed", 0) for _, c in pairs) <= sum(p.get("failed", 0) for p, _ in pairs)

    names = sorted(
        {k for p, c in pairs for k in p.get("metrics", {})}
        & {k for p, c in pairs for k in c.get("metrics", {})}
    )
    rows = []
    for k in names:
        vals = [(value(p, k), value(c, k)) for p, c in pairs]
        vals = [(a, b) for a, b in vals if a is not None and b is not None]
        if not vals:
            continue
        par, chg = [a for a, _ in vals], [b for _, b in vals]
        pq, cq = quartiles(par), quartiles(chg)
        sign = {"higher": 1, "lower": -1}.get(better.get(k))
        wins = None if sign is None else sum(1 for a, b in vals if sign * (b - a) > 0)
        holds = (
            all_correct
            and no_more_failed
            and wins is not None
            and wins >= 0.9 * len(pairs)
            and sign * (cq[1] - pq[1]) > pq[2] - pq[0]
        )
        rows.append({"metric": k, "n": len(pairs), "reported": len(vals), "parent": pq, "change": cq, "wins": wins, "holds": holds})
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", type=Path, help="append every run's result as a JSON line")
    args = ap.parse_args(argv)

    parent, change = args.parent.resolve(), args.change.resolve()
    seconds = json.loads((parent / "BENCHMARK.json").read_text())["run_seconds"]
    pairs, bad = [], 0
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = [("parent", parent), ("change", change)]
        if i % 2:
            order.reverse()
        got = {}
        for side, checkout in order:
            r = run_one(checkout, args.workload, seed, seconds, args.trace)
            got[side] = r
            ok = r.get("returncode") == 0 and r.get("correct") is True
            bad += not ok
            if args.out is not None:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed, "first": order[0][0], **r}) + "\n")
            print(f"# seed {seed} {side}: {'ok' if ok else 'FAILED'} in {r['wall_s']:.0f} s", file=sys.stderr, flush=True)
        pairs.append((got["parent"], got["change"]))

    print(f"{args.workload}, {len(pairs)} pairs, {seconds:g} s drains, trace {args.trace}, failed runs {bad}")

    def fmt(q):
        return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"

    print(f"{'metric':36s} {'parent median [q1, q3]':>30s} {'change median [q1, q3]':>30s} {'wins':>6s}  rule")
    for r in summarize(pairs, directions(parent)):
        wins = "-" if r["wins"] is None else f"{r['wins']}/{r['n']}"
        rule = "holds" if r["holds"] else "-"
        print(f"{r['metric']:36s} {fmt(r['parent']):>30s} {fmt(r['change']):>30s} {wins:>6s}  {rule}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
