#!/usr/bin/env python3
"""A/B comparison of two checkouts on the benchmark, in alternating pairs.

    python3 scripts/ab_pairs.py --parent DIR --change DIR \\
        --workload topology_cdc --seeds 41-50 [--seconds 10] [--out runs.jsonl]

For each seed, runs `perfbench/run.py` once in the parent checkout and once
in the change checkout, alternating which side goes first (pair 0 runs the
parent first, pair 1 the change first, ...). Each side runs its own
benchmark and build; nothing else is called and no file of either checkout
is written except the benchmark's own build directory.

Prints, for every end-to-end metric of the change side's BENCHMARK.json:
each side's median and quartiles, the change's win fraction over all pairs
(ties count for neither side), whether the medians differ by more than the
parent's inter-quartile range, and the change's median move against the
metric's regression bound. A gain is claimed only over at least ten pairs,
when the change wins at least nine tenths of them and the medians differ by
more than the parent's IQR. With --out, every run's result line is appended as JSON.
"""

import argparse
import json
import pathlib
import statistics
import subprocess
import sys

WIN_FRAC = 0.9
MIN_PAIRS = 10


def parse_seeds(text):
    """'41-50' or '3,7,9' or a mix ('1-3,7777') -> list of ints."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def compare(pairs, better):
    """Summary of one metric over (parent, change) value pairs.

    `better` is "lower" or "higher". Returns a dict with both sides'
    quartiles, the change's wins / losses / win fraction over all pairs,
    the relative median move `move` and the same move signed so that
    positive is worse (`worse_by`), and whether the medians
    differ by more than the parent's IQR in the change's favour over at
    least MIN_PAIRS pairs (`gain`).
    """
    sign = 1.0 if better == "lower" else -1.0
    par = [p for p, _ in pairs]
    chg = [c for _, c in pairs]
    pq, cq = quartiles(par), quartiles(chg)
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) > 0)
    iqr = pq[2] - pq[0]
    gain_by = sign * (pq[1] - cq[1])
    move = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
    return {
        "n": len(pairs), "parent": pq, "change": cq, "wins": wins, "losses": losses,
        "win_frac": wins / len(pairs), "parent_iqr": iqr,
        "move": move, "worse_by": sign * move,
        "beyond_iqr": abs(pq[1] - cq[1]) > iqr,
        "gain": len(pairs) >= MIN_PAIRS and wins / len(pairs) >= WIN_FRAC and gain_by > iqr,
    }


def run_side(root, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, text=True, capture_output=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(p.stderr[-3000:])
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}, "rc": p.returncode}
    res = json.loads(lines[-1])
    res["rc"] = p.returncode
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, type=pathlib.Path)
    ap.add_argument("--change", required=True, type=pathlib.Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", type=pathlib.Path)
    a = ap.parse_args()

    spec = json.loads((a.change / "BENCHMARK.json").read_text())
    runs = []
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {}
        for side in order:
            res = run_side(getattr(a, side), a.workload, seed, a.seconds)
            pair[side] = res
            rec = {"pair": i, "seed": seed, "side": side, "workload": a.workload, **res}
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
            p50 = res["metrics"].get("op_p50_ms", {}).get("value")
            print(f"pair {i} seed {seed} {side:6s} correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} op_p50_ms={p50}", flush=True)
        runs.append(pair)

    print(f"\n{a.workload}: {len(runs)} pairs, seeds {a.seeds}")
    for side in ("parent", "change"):
        att = sum(r[side]["attempted"] for r in runs)
        bad = sum(r[side]["failed"] for r in runs)
        print(f"  {side}: {bad}/{att} ops failed, "
              f"{sum(not r[side]['correct'] for r in runs)} runs not correct")
    print(f"  {'metric':12s} {'parent q1/med/q3':>26s} {'change q1/med/q3':>26s} "
          f"{'wins':>6s} {'Δmed':>7s} {'bound':>6s} {'>IQR':>5s} verdict")
    for m in spec["end_to_end"]:
        pairs = [(r["parent"]["metrics"][m["name"]]["value"],
                  r["change"]["metrics"][m["name"]]["value"]) for r in runs
                 if m["name"] in r["parent"]["metrics"] and m["name"] in r["change"]["metrics"]]
        if not pairs:
            continue
        s = compare(pairs, m["better"])
        verdict = ("GAIN" if s["gain"] else
                   "WORSE beyond bound" if s["worse_by"] > m["bound"] else "within bound")
        fmt = "{:8.1f}/{:8.1f}/{:8.1f}"
        print(f"  {m['name']:12s} {fmt.format(*s['parent']):>26s} {fmt.format(*s['change']):>26s} "
              f"{s['wins']:>2d}/{s['n']:<3d} {s['move']:+7.1%} {m['bound']:6.2f} "
              f"{'yes' if s['beyond_iqr'] else 'no':>5s} {verdict}")


if __name__ == "__main__":
    main()
