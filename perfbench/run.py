"""The repo benchmark: builds the program from source, runs one workload
in a fresh JVM as a closed loop with one client, checks every call's
output and prints the metrics as the last line of standard output.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

`--trace 0` prints the end-to-end metrics; `--trace 1` makes a separate,
traced run and prints the per-layer metrics, writes the span file under
`.bench_build/perfbench/traces/` and reports the tracing overhead against
the last untraced run of the same workload in this checkout.
BENCHMARK.json lists the workloads, metrics and what each layer metric
should move.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402

OUT = os.path.join(ROOT, ".bench_build", "perfbench")
FIXTURE = os.path.join(HERE, "fixture", "sf0.1")
WORKLOADS = ("supplier_etl", "catalog_reads")
CORE_LAYERS = ("operators.Integrity", "operators.SupplierPerf", "operators.Dashboard")
JVM_HEAP = "4g"
RUN_TIMEOUT_S = 170

END_TO_END = [("setup_s", "s"), ("first_pass_cpu_s", "s"), ("pass_cpu_s", "s")]
LAYERS = ["app.Pipeline", "gen.DataGen", "sources.SupplierCsv", "sources.AtomicWarehouse",
          "sources.Tables", "operators.SupplierDomain", "operators.Integrity",
          "operators.SupplierPerf", "operators.Dashboard", "operators.Dedup",
          "operators.Similarity", "operators.Analytics", "streaming.EventStream"]
COUNTERS = [("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("tasks", "count"),
            ("exec_cpu_s", "s"), ("shuffle_bytes", "B"), ("spill_bytes", "B"), ("gc_s", "s")]
# Calls whose job count is the number of rounds an iterate-on-stored-state
# operator ran: (metric, span name).
FIXPOINTS = [("operators.Dedup.q54.jobs", "operators.Dedup.clustersOfVerified"),
             ("operators.Analytics.q103.jobs", "operators.Analytics.itemPagerank"),
             ("operators.Similarity.q61.jobs", "operators.Similarity.kmeansTrain")]
EXTRA_LAYER = [("sources.AtomicWarehouse.bytes_per_user_byte", "ratio"),
               ("sources.AtomicWarehouse.versions_on_disk", "count"),
               ("sources.SupplierCsv.bytes_written", "B"),
               ("sources.Tables.rows_read_per_row_out", "ratio"),
               ("functions.TextCore.docs_per_s", "1/s")] + \
              [(m, "count") for m, _ in FIXPOINTS] + \
              [("streaming.EventStream.batches", "count"),
               ("streaming.EventStream.batch_p50_s", "s"),
               ("streaming.EventStream.start_stop_s", "s"),
               ("streaming.EventStream.state_rows", "count"),
               ("slot_use", "ratio")]
PER_LAYER = [(f"{l}.{c}", u) for l in LAYERS for c, u in COUNTERS] + EXTRA_LAYER

JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def check_fixture():
    """The fixture is the frozen seed-42 sf0.1 drop; refuse any other bytes."""
    sums = os.path.join(HERE, "fixture", "SHA256SUMS")
    for line in open(sums):
        digest, name = line.split()
        with open(os.path.join(FIXTURE, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                fail(f"fixture file {name} does not match fixture/SHA256SUMS")


def launch(args, classpath):
    """Run the harness in a fresh JVM and return its raw result."""
    work = os.path.join(OUT, "run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    log_path = os.path.join(OUT, "logs", f"{args.workload}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    cmd = [build.java(), f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--fixture", FIXTURE, "--work", work, "--out", result]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    try:
        if code != 0 or not os.path.exists(result):
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"harness {'timed out' if code is None else f'exited with {code}'}; log: {log_path}")
        with open(result) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def call_seconds(c):
    return (c["end_ns"] - c["start_ns"]) / 1e9


def call_cpu_seconds(c):
    return c["cpu_ns"] / 1e9


def pass_times(calls, key=call_seconds):
    times = {}
    for c in calls:
        times[c["pass"]] = times.get(c["pass"], 0.0) + key(c)
    return times


def expected():
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def check_calls(raw):
    """(attempted, failed, problems): every call's output against the
    oracle fingerprint or the run's own invariants, plus the cross-run
    ledger of risk fingerprints by seed for supplier_etl.
    """
    oracle = expected()["queries"]
    problems = []
    for c in raw["calls"]:
        if c["err"]:
            problems.append(f"{c['query']} pass {c['pass']}: {c['err']}")
        elif raw["workload"] != "supplier_etl" and not stats.fingerprint_matches(
                oracle.get(c["query"]), c["rows"], c["fp"]):
            problems.append(f"{c['query']} pass {c['pass']}: rows {c['rows']} fp {c['fp']} "
                            f"!= oracle {oracle.get(c['query'])}")
    if raw["workload"] == "supplier_etl":
        ledger_path = os.path.join(OUT, "etl_risk_by_seed.json")
        ledger = json.load(open(ledger_path)) if os.path.exists(ledger_path) else {}
        for seed, fp in raw["extras"]["risk_fp_by_seed"].items():
            if ledger.setdefault(seed, fp) != fp:
                problems.append(f"risk fingerprint for seed {seed}: {fp}, earlier run {ledger[seed]}")
        with open(ledger_path, "w") as fh:
            json.dump(ledger, fh)
    return len(raw["calls"]), len(problems), problems


def first_and_rest(times):
    """(first pass, median of the measured passes) of a pass -> value map."""
    return times[min(times)], stats.median([times[p] for p in stats.measured_passes(times)])


def end_to_end(raw):
    first_cpu, cpu = first_and_rest(pass_times(raw["calls"], call_cpu_seconds))
    return {
        "setup_s": raw["setup_s"],
        "first_pass_cpu_s": first_cpu,
        "pass_cpu_s": cpu,
    }


def named(raw):
    """The workload's wall-clock figures, each under its own name."""
    times = pass_times(raw["calls"])
    measured = stats.measured_passes(times)
    first, rest = first_and_rest(times)
    calls = [c for c in raw["calls"] if c["pass"] in measured]

    def tail_of(cs):
        t = stats.tail([call_seconds(c) for c in cs])
        return {"value": t[1] if t else None, "percentile": t[0] if t else None,
                "samples": len(cs), "unit": "s"}

    if raw["workload"] == "supplier_etl":
        return {"etl_cold_s": first, "etl_warm_s": rest, "warm_cycles": len(measured)}
    n = len(measured)
    core = [c for c in calls if stats.layer_of(c["span"]) in CORE_LAYERS]
    drains = [c for c in calls if c["span"].startswith("streaming.")]
    corpus = [c for c in calls if c not in core and c not in drains]
    drain_s = sum(call_seconds(c) for c in drains)
    return {"core_pass_s": sum(call_seconds(c) for c in core) / n,
            "core_query_p50_s": stats.median([call_seconds(c) for c in core]),
            "core_query_tail_s": tail_of(core),
            "corpus_pass_s": sum(call_seconds(c) for c in corpus) / n,
            "corpus_query_tail_s": tail_of(corpus),
            "stream_drain_p50_s": stats.median([call_seconds(c) for c in drains]),
            "stream_drain_tail_s": tail_of(drains),
            "stream_events_per_s":
                len(drains) * expected()["fixture_rows"]["events"] / drain_s,
            "passes": n}


def per_layer(raw):
    """Per-layer figures from the traced run, per pass over the measured passes."""
    tr = raw["trace"]
    measured = set(stats.measured_passes(pass_times(raw["calls"])))
    spans = [s for s in tr["spans"] if s["pass"] in measured]
    ids = {s["id"] for s in spans}
    jobs = [j for j in tr["jobs"] if j["span"] in ids]
    self_ns = stats.self_times(tr["spans"])
    driver_ns = stats.driver_times(tr["spans"], tr["jobs"])
    child_gc = {}
    for s in tr["spans"]:
        child_gc[s["parent"]] = child_gc.get(s["parent"], 0) + s["gc_ms"]
    jobs_of = {}
    for j in jobs:
        jobs_of[j["span"]] = jobs_of.get(j["span"], 0) + 1

    out = {}
    for layer in LAYERS:
        mine = [s for s in spans if stats.layer_of(s["name"]) == layer]
        n = max(1, len({s["pass"] for s in mine}))
        sums = {
            "wall_s": sum(self_ns[s["id"]] for s in mine) / 1e9,
            "driver_s": sum(driver_ns[s["id"]] for s in mine) / 1e9,
            "jobs": sum(jobs_of.get(s["id"], 0) for s in mine),
            "tasks": sum(s["tasks"] for s in mine),
            "exec_cpu_s": sum(s["cpu_ns"] for s in mine) / 1e9,
            "shuffle_bytes": sum(s["shuffle_read"] + s["shuffle_write"] for s in mine),
            "spill_bytes": sum(s["spill"] for s in mine),
            "gc_s": sum(s["gc_ms"] - child_gc.get(s["id"], 0) for s in mine) / 1e3,
        }
        for c, _ in COUNTERS:
            out[f"{layer}.{c}"] = sums[c] / n

    for metric, name in FIXPOINTS:
        counts = [jobs_of.get(s["id"], 0) for s in spans if s["name"] == name]
        out[metric] = stats.median(counts) if counts else 0

    # stream drains: a stream's micro-batches belong to the drain span that started it
    drains = [s for s in spans if s["name"].startswith("streaming.EventStream.")]
    runs_of = {}
    for run_id, span in tr["stream_span"].items():
        runs_of.setdefault(span, []).append(run_id)
    batches = {}
    for p in tr["progress"]:
        batches.setdefault(p["run"], []).append(p)
    durs, start_stop, n_batches, state_rows = [], [], 0, 0
    for s in drains:
        bs = [b for r in runs_of.get(s["id"], []) for b in batches.get(r, [])]
        n_batches += len(bs)
        durs += [b["dur_ms"] / 1e3 for b in bs]
        start_stop.append((s["end_ns"] - s["start_ns"]) / 1e9 - sum(b["dur_ms"] for b in bs) / 1e3)
        state_rows += max((b["state_rows"] for b in bs), default=0)
    n_pass = max(1, len(measured))
    out["streaming.EventStream.batches"] = n_batches / n_pass
    out["streaming.EventStream.batch_p50_s"] = stats.median(durs) if durs else 0
    out["streaming.EventStream.start_stop_s"] = stats.median(start_stop) if start_stop else 0
    out["streaming.EventStream.state_rows"] = state_rows / n_pass

    ex = raw["extras"]
    etl = raw["workload"] == "supplier_etl"
    out["sources.AtomicWarehouse.bytes_per_user_byte"] = ex["wh_bytes"] / ex["csv_bytes"] if etl else 0
    out["sources.AtomicWarehouse.versions_on_disk"] = ex["versions_on_disk"] if etl else 0
    out["sources.SupplierCsv.bytes_written"] = ex["csv_bytes"] if etl else 0
    calls = [c for c in raw["calls"] if c["pass"] in measured]
    rows_out = sum(max(c["rows"], 0) for c in calls)
    out["sources.Tables.rows_read_per_row_out"] = (
        0 if etl else sum(s["input_records"] for s in spans) / max(1, rows_out))
    out["functions.TextCore.docs_per_s"] = raw["kernel"]["docs_per_s"]
    busy = sum(call_seconds(c) for c in calls)
    out["slot_use"] = sum(s["run_ms"] for s in spans) / 1e3 / (busy * raw["env"]["nproc"])
    return out, self_ns, driver_ns


def write_trace(raw, self_ns, driver_ns):
    path = os.path.join(OUT, "traces", f"{raw['workload']}-seed{raw['seed']}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    spans = [dict(s, self_ns=self_ns[s["id"]], driver_ns=driver_ns[s["id"]])
             for s in raw["trace"]["spans"]]
    with open(path, "w") as fh:
        json.dump({"workload": raw["workload"], "seed": raw["seed"], "spans": spans,
                   "jobs": raw["trace"]["jobs"], "stream_batches": raw["trace"]["progress"],
                   "stream_span": raw["trace"]["stream_span"]}, fh)
    return os.path.relpath(path, ROOT)


def cpu_jiffies():
    """The host's aggregate CPU counters from /proc/stat (steal is the 8th)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None


def mem_total_kb():
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    check_fixture()
    classpath = build.build()
    stat0 = cpu_jiffies()
    raw = launch(args, classpath)
    stat1 = cpu_jiffies()
    steal_share = (stat1[7] - stat0[7]) / max(1, sum(stat1) - sum(stat0)) if stat0 else None
    attempted, failed, problems = check_calls(raw)
    for p in problems:
        print(f"[perfbench] FAILED {p}", file=sys.stderr)
    e2e = end_to_end(raw)
    times = pass_times(raw["calls"])
    # the figures a traced run is compared with: gated metrics plus wall pass time
    compared = dict(e2e, pass_s=first_and_rest(times)[1])
    diag = {"workload": raw["workload"], "seed": raw["seed"], "traced": bool(args.trace),
            "load_model": "closed loop, 1 client, local[nproc]",
            "env": dict(raw["env"], mem_total_kb=mem_total_kb()),
            "host.cal_s": {"start": raw["cal_s"][0], "end": raw["cal_s"][1], "unit": "s"},
            "named": named(raw),
            "setup_cpu_s": raw["setup_cpu_s"],
            "pass_jit_s": pass_times(raw["calls"], lambda c: c["jit_ms"] / 1e3),
            "retained_heap_mb": raw["retained_heap_mb"],
            "host_steal_share": steal_share}
    last = os.path.join(OUT, "last", f"{args.workload}.json")
    if args.trace:
        metrics, self_ns, driver_ns = per_layer(raw)
        diag["trace_file"] = write_trace(raw, self_ns, driver_ns)
        untraced = json.load(open(last)) if os.path.exists(last) else None
        diag["tracing_overhead"] = (
            {k: v - untraced[k] for k, v in compared.items()} if untraced
            else "no untraced run of this workload in this checkout yet")
        diag["span_self_vs_pass_s"] = [
            {"pass": p, "sum_self_s": sum(self_ns[s["id"]] for s in raw["trace"]["spans"]
                                          if s["pass"] == p) / 1e9,
             "traced_pass_s": times[p],
             "untraced_pass_s": untraced["pass_s"] if untraced else None}
            for p in stats.measured_passes(times)]
        units = dict(PER_LAYER)
    else:
        metrics = e2e
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as fh:
            json.dump(compared, fh)
        units = dict(END_TO_END)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
