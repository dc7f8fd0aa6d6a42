#!/usr/bin/env python3
"""Authorization-service benchmark of the graft engine: one workload, one
seed, one run, one JSON result line.

    python3 perfbench/run.py --workload authz_read --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists):
  authz_read    closed loop, one client: delegation expansion, prepared WoT
                path count and ABAC decisions on the static graph
  vc_audit      closed loop, one client: walk a region, verify every reached
                customer's stored verifiable credential
  topology_cdc  open loop: Debezium change batches into the CdcStream file
                source on a fixed schedule, each checked by a chain count

Each run builds the program from source when needed (build.py), generates
the seeded op list and its expected answers (gen.py), runs the JVM side
(perfbench.BenchMain) on local[nproc], checks every answer and prints the
end-to-end metrics (--trace 0) or the per-layer metrics of a second, traced
window (--trace 1). Before the result it prints an env block and a detail
line. It exits 1 when any answer is wrong.

Data: the sf 0.1 directory TESTDATA.md lists, unless PERFBENCH_SF names
another directory.
"""

import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("authz_read", "vc_audit", "topology_cdc")
# Closed loops: untimed ops after the warm-up list, about 4 s of them (the
# open loop warms up with gen.WARM_BATCHES scheduled batches instead). A
# count, not a time, so set-up does the same work in every run.
WARM_OPS = {"authz_read": 16, "vc_audit": 8}
HEAP = "4g"
DEADLINE_S = 170  # wall budget of one run after the build
SCRUBBED_ENV = ("GRAFT_", "SPARK_GRAFT_", "SPARK_LOCAL_DIRS")
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def default_sf():
    """The scale-factor 0.1 directory listed in the repository's TESTDATA.md."""
    path = HERE.parent / "TESTDATA.md"
    for line in path.read_text().splitlines() if path.exists() else []:
        cells = [c.strip().strip("`") for c in line.split("|")]
        if len(cells) > 2 and cells[1] == "0.1":
            return cells[2].rstrip("/")
    return None


def host_sample():
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"loadavg": os.getloadavg(), "steal_ticks": cpu[7], "total_ticks": sum(cpu[:8])}


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=HERE.parent, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def read_records(path):
    recs = {}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            recs.setdefault(r["kind"], []).append(r)
    return recs


def generate(workload, sf, seed, seconds, trace, run_dir):
    """Writes the op list the JVM reads; returns (ops, expected, warm expected)."""
    facts = gen.Facts(sf)
    if workload == "topology_cdc":
        per_window = max(1, int(seconds * 1000 / gen.PERIOD_MS))
        batches = gen.topology_cdc(facts, seed, per_window * (2 if trace else 1))
        gen.write_batches(batches, run_dir / "batches.tsv")
        expected = [b[3] for b in batches]
        return batches, expected, expected[:]
    warm, ops = getattr(gen, workload)(facts, seed)
    gen.write_closed(warm, run_dir / "warmup.tsv")
    gen.write_closed(ops, run_dir / "ops.tsv")
    return ops, [want for _, want in ops], [want for _, want in warm]


def closed_metrics(workload, recs, op_list, expected, phase):
    ops = [r for r in recs.get("op", []) if r["phase"] == phase]
    lat, bad = stats.closed_loop(ops, expected)
    by_kind = {}
    for r, ms in zip(ops, lat):
        by_kind.setdefault(op_list[r["idx"] % len(op_list)][0][0], []).append(ms)
    span_s = (ops[-1]["end_ns"] - ops[0]["start_ns"]) / 1e9
    tail_ms, tail_pct, tail_n = stats.tail(lat[:stats.TAIL_N[workload]])
    # vc_audit answers read "reached=<n>;verified=<m>"; an item is a verified credential.
    audits = [dict(kv.split("=") for kv in r["answer"].split(";")) for r in ops
              if r["answer"].startswith("reached=")]
    items = sum(int(a["verified"]) for a in audits) if workload == "vc_audit" else len(ops)
    return {
        "attempted": len(ops), "bad": bad, "lat": lat, "p50": statistics.median(lat),
        "tail": (tail_ms, tail_pct, tail_n), "ops_per_s": len(ops) / span_s,
        "reached": sum(int(a["reached"]) for a in audits), "items_per_s": items / span_s,
        "per_kind_p50_ms": {k: statistics.median(v) for k, v in by_kind.items()},
    }


def open_metrics(recs, batches, expected, phase):
    gens = [g for g in recs.get("gen", []) if g["phase"] == phase]
    mbs = [m for m in recs.get("mb", []) if m["phase"] == phase]
    lat, bad = stats.open_loop(gens, mbs, expected)
    window = next(w for w in recs["window"] if w["phase"] == phase)
    visible = [g for g in gens if g["visible_ns"] >= 0]
    span_s = (max(g["visible_ns"] for g in visible) - min(g["due_ns"] for g in gens)) / 1e9 \
        if visible else float("inf")
    events = sum(len(batches[g["k"]][2]) for g in visible)
    return {
        "attempted": len(gens), "bad": bad, "lat": lat,
        "p50": statistics.median(lat) if lat else float("nan"),
        "tail": stats.tail(lat), "ops_per_s": len(visible) / span_s,
        "items_per_s": events / span_s, "backlog_end": window["backlog_end"],
        "gen.late_ms_max": window["late_ms_max"],
        "streaming.trigger_wait_ms": stats.trigger_wait_ms(gens, mbs),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong-expectation", action="store_true",
                    help="corrupt every expected answer; the run must fail")
    a = ap.parse_args()

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    sf = os.environ.get("PERFBENCH_SF") or default_sf()
    if not sf:
        sys.exit("perfbench: no test data: set PERFBENCH_SF or list sf 0.1 in TESTDATA.md")
    if not os.path.isfile(f"{sf}/customer.parquet"):
        sys.exit(f"perfbench: no test data at {sf}")
    host0 = host_sample()
    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    t_start = time.monotonic()

    run_dir = build.build_dir() / "runs" / f"{a.workload}-s{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    ops, expected, warm_expected = generate(a.workload, sf, a.seed, a.seconds, a.trace, run_dir)
    if a.inject_wrong_expectation:
        # Every expectation, so no op can escape the check, whichever ops a
        # window reaches and however change batches coalesce.
        expected[:] = [e + "#injected" for e in expected]

    cores = len(os.sched_getaffinity(0))  # nproc
    env = {k: v for k, v in os.environ.items() if not k.startswith(SCRUBBED_ENV)}
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS, "-cp",
           f"{classes}:{jars}/*", "perfbench.BenchMain",
           "--workload", a.workload, "--sf", sf, "--run-dir", str(run_dir),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cores", str(cores), "--warm-ops", str(WARM_OPS.get(a.workload, 0)),
           "--tail-ops", str(stats.TAIL_N.get(a.workload, 0))]
    log = run_dir / "jvm.log"
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                timeout=DEADLINE_S - (time.monotonic() - t_start)).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    host1 = host_sample()
    recs = read_records(run_dir / "records.jsonl") if (run_dir / "records.jsonl").exists() else {}
    if rc != 0 or "env" not in recs:
        sys.stderr.write(log.read_text()[-6000:])
        sys.exit(f"perfbench: the benchmark JVM failed ({rc})")

    # ---- correctness -------------------------------------------------------
    # Warm-up answers are checked too and count as attempted ops.
    phases = ["timed"] + (["traced"] if a.trace else [])
    if a.workload == "topology_cdc":
        res = {p: open_metrics(recs, ops, expected, p) for p in phases}
        warm = [(m, warm_expected[m["last"]]) for m in recs["mb"] if m["phase"] == "warmup"]
    else:
        res = {p: closed_metrics(a.workload, recs, ops, expected, p) for p in phases}
        warm = [(r, warm_expected[r["idx"]]) for r in recs["op"] if r["phase"] == "warmup"]
        warm += [(r, expected[r["idx"] % len(expected)]) for r in recs["op"]
                 if r["phase"] == "warmloop"]
    attempted = sum(r["attempted"] for r in res.values()) + len(warm)
    bad = [b for r in res.values() for b in r["bad"]]
    bad += [("warmup", r["answer"], want) for r, want in warm if r["answer"] != want]

    # ---- metrics -----------------------------------------------------------
    setup = recs["setup"][0]
    jvm_env = recs["env"][0]
    t = res["timed"]
    detail = {
        "workload": a.workload, "seed": a.seed,
        "op_tail_percentile": round(t["tail"][1], 3), "op_tail_n": t["tail"][2],
        "setup_ms": setup["layers"], "op_n": len(t["lat"]),
    }
    if a.workload == "vc_audit":
        detail["credentials_verified_per_s"] = t["items_per_s"]
    if a.workload == "topology_cdc":
        detail["changes_applied_per_s"] = t["items_per_s"]
        detail["backlog_end"] = t["backlog_end"]
    else:
        detail["per_kind_p50_ms"] = t["per_kind_p50_ms"]

    if a.trace:
        tr = res["traced"]
        # Overhead: traced vs untraced median over the same ops.
        untraced_p50 = statistics.median(t["lat"][:len(tr["lat"])])
        metrics = stats.per_layer([m["name"] for m in spec["per_layer"]], untraced_p50, tr,
                                  setup["layers"], recs["layers"][0]["layers"])
        # Every reached credential is verified exactly once.
        if a.workload == "vc_audit" and metrics["functions.verifications"] != tr["reached"]:
            bad.append(("functions.verifications", metrics["functions.verifications"],
                        tr["reached"]))
        spans = build.build_dir() / "trace" / f"{a.workload}-s{a.seed}.spans.jsonl"
        spans.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy(run_dir / "spans.jsonl", spans)
        detail["spans_file"] = str(spans.relative_to(HERE.parent))
        detail["traced_op_p50_ms"] = tr["p50"]
        metric_spec = spec["per_layer"]
    else:
        metrics = stats.end_to_end(setup["setup_s"], t, setup["mem_live_mb"])
        metric_spec = spec["end_to_end"]

    for b in bad[:10]:
        sys.stderr.write(f"perfbench: WRONG ANSWER op={b[0]} got={b[1]!r} want={b[2]!r}\n")
    if bad:
        sys.stderr.write(f"perfbench: {len(bad)} of {attempted} ops failed the answer check\n")
    print(json.dumps({"env": {
        "nproc": cores, "heap": HEAP, "jdk": jvm_env["java_version"],
        "spark": jvm_env["spark_version"], "git_head": git_head(),
        "source_hash": classes.name.split("-", 1)[1], "sf_dir": sf, "seed": a.seed,
        "workload": a.workload, "seconds": a.seconds, "trace": a.trace,
        "spark_conf_set": jvm_env["spark_conf"],
        "env_scrubbed": sorted(k for k in os.environ if k.startswith(SCRUBBED_ENV)),
        "loadavg_start": host0["loadavg"], "loadavg_end": host1["loadavg"],
        "steal_frac_start": host0["steal_ticks"] / host0["total_ticks"],
        "steal_frac_end": host1["steal_ticks"] / host1["total_ticks"],
        "steal_frac_run": (host1["steal_ticks"] - host0["steal_ticks"])
        / max(1, host1["total_ticks"] - host0["total_ticks"]),
    }}))
    detail["ops_failed_frac"] = len(bad) / max(attempted, 1)
    print(json.dumps({"detail": detail}))
    print(json.dumps(stats.result_line(not bad, attempted, len(bad), metrics, metric_spec)))
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
