"""Statistics of one benchmark run, from the records the JVM side wrote.

Kept apart from run.py so that the rules are unit-tested (test_stats.py):
the tail percentile, failure counting, open-loop latency from the due time,
and the shape of the result line.
"""

import statistics

# The op count the tail percentile is taken over, per closed-loop workload:
# the first TAIL_N ops of the window. A closed-loop window runs until its
# seconds are up and it has completed at least TAIL_N ops, so n, and with it
# the percentile (p66.7), is the same in every run whatever the throughput.
# The open loop offers a fixed number of batches per window, so its n is
# fixed by the schedule. The traced window runs exactly TAIL_N ops.
TAIL_N = {"authz_read": 30, "vc_audit": 30}
TAIL_BEYOND = 10


def tail(samples, beyond=TAIL_BEYOND):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, n). With n samples sorted ascending that is
    the sample at index n - beyond - 1, the percentile 100 * (n - beyond) / n.
    With too few samples no percentile qualifies and the maximum is returned
    with percentile 100.
    """
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return (xs[-1] if xs else float("nan"), 100.0, n)
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def closed_loop(ops, expected):
    """Latency and failures of closed-loop op records.

    `ops`: records with idx, start_ns, end_ns, answer (in run order).
    `expected[i % len(expected)]` is op i's answer. An op fails when it threw
    (its answer starts with ERROR) or returned anything else.
    Returns (latencies_ms, failures) where failures lists (idx, got, want).
    """
    lat, bad = [], []
    for r in ops:
        want = expected[r["idx"] % len(expected)]
        if r["answer"] != want:
            bad.append((r["idx"], r["answer"], want))
        lat.append((r["end_ns"] - r["start_ns"]) / 1e6)
    return lat, bad


def open_loop(gens, mbs, expected):
    """Latency and failures of open-loop change batches.

    A batch's latency runs from its due time to the end of the micro-batch
    that made it visible, so a stalled micro-batch delays every batch queued
    behind it. A batch fails when it never became visible or when the
    micro-batch that applied it returned a wrong answer: that answer is the
    check after its last batch, `expected[last]`. Failures count batches, as
    `attempted` does, not micro-batches.
    Returns (latencies_ms of correct visible batches, failures).
    """
    wrong = {}
    for m in mbs:
        want = expected[m["last"]] if m["last"] >= 0 else None
        if m["answer"] != want:
            for k in range(m["first"], m["last"] + 1):
                wrong[k] = (m["op"], m["answer"], want)
    lat, bad = [], []
    for g in gens:
        if g["visible_ns"] < 0:
            bad.append((g["k"], "not visible", "visible"))
        elif g["k"] in wrong:
            bad.append(wrong[g["k"]])
        else:
            lat.append((g["visible_ns"] - g["due_ns"]) / 1e6)
    return lat, bad


def trigger_wait_ms(gens, mbs):
    """Mean wait from a batch's due time to the start of its micro-batch."""
    start = {}
    for m in mbs:
        for k in range(m["first"], m["last"] + 1):
            start[k] = m["start_ns"]
    waits = [(start[g["k"]] - g["due_ns"]) / 1e6 for g in gens if g["k"] in start]
    return statistics.fmean(waits) if waits else 0.0


def end_to_end(setup_s, timed, mem_live_mb):
    """End-to-end metrics of the untraced window (`timed`: run.py's window
    summary), the run's set-up and the JVM's live memory after set-up."""
    return {
        "setup_s": setup_s,
        "op_p50_ms": timed["p50"],
        "op_tail_ms": timed["tail"][0],
        "ops_per_s": timed["ops_per_s"],
        "items_per_s": timed["items_per_s"],
        "mem_live_mb": mem_live_mb,
    }


def per_layer(names, untraced_p50, traced, setup_layers, traced_layers):
    """Every per-layer metric in `names`; 0 for a layer the workload does
    not use. Set-up timings outside `names` are left out (run.py prints them
    as detail); a traced-window value whose name is not in `names` is an
    error, so a misspelt counter cannot vanish silently."""
    out = dict.fromkeys(names, 0.0)
    out.update({k: v for k, v in setup_layers.items() if k in out})
    unknown = set(traced_layers) - set(out)
    if unknown:
        raise ValueError(f"layer metrics not in BENCHMARK.json per_layer: {sorted(unknown)}")
    out.update(traced_layers)
    out["trace.overhead_frac"] = traced["p50"] / untraced_p50 - 1.0
    for k in ("gen.late_ms_max", "streaming.trigger_wait_ms"):
        if k in traced:
            out[k] = traced[k]
    return out


def result_line(correct, attempted, failed, metrics, spec):
    """The final result object. `metrics` maps name -> value; `spec` is the
    BENCHMARK.json metric list the run must print, with units.
    Raises KeyError when a named metric is missing."""
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in spec},
    }
