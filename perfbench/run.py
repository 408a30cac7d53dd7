#!/usr/bin/env python3
"""The repo benchmark: one command, three workloads, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (``perfbench/build.py``), generates the
workload's inputs from the seed (excluded from every metric), runs one
Spark session at ``local[<cores>]`` that issues each operation only after
the previous one completed, checks every output, and prints the
workload's metrics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics
(``--trace 1``). See ``perfbench/README.md``.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

ROOT = HERE.parent
WORKLOADS = ("ingest_backfill", "ingest_incremental", "analytics_mix")
JVM_TIMEOUT_S = 160

# ingest_backfill: one large window into an empty warehouse per batch.
BACKFILL = gen.WindowSpec(repos=800, branches=6400, issues=16000)
# ingest_incremental: a history much larger than one window, then windows
# the size of one reference extraction (3 pages x 100 per entity).
HISTORY = gen.WindowSpec(repos=4000, branches=8000, issues=40000, new_user_rate=0.6)
WINDOW = gen.WindowSpec(repos=300, branches=2600, issues=3000)
N_WINDOWS = 12
# analytics_mix: fixed data (hashes are frozen), seeded gate order.
MIX_SF, MIX_DATA_SEED = 0.01, 42
MIX_WARM_PASSES = 4  # untimed passes at the timed scale before measuring
MIX_EXPECTED_FILE = HERE / "mix_expected.json"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ inputs

def ingest_inputs(workload, seed, work):
    """Write raw windows; return (spec entries, per-window expectations)."""
    raw = work / "raw"
    spec = {"history": ""}
    if workload == "ingest_backfill":
        (files, exp), = gen.ingest_windows(seed, [BACKFILL])
        windows = [(raw / "w0", files, exp)]
        warm_dirs = [raw / "w0"] * 2
    else:
        seq = list(gen.ingest_windows(seed, [HISTORY] + [WINDOW] * N_WINDOWS))
        gen.write_window(raw / "history", seq[0][0])
        spec["history"] = str(raw / "history")
        windows = [(raw / f"w{i}", f, e) for i, (f, e) in enumerate(seq[1:])]
        warm, = gen.ingest_windows(seed + 1, [WINDOW])
        gen.write_window(raw / "warm0", warm[0])
        warm_dirs = [raw / "warm0"]
    expected = {}
    for d, files, exp in windows:
        exp["raw_bytes"] = gen.write_window(d, files)
        expected[str(d)] = exp
    spec["windows"] = ",".join(str(d) for d, _, _ in windows)
    spec["warm_windows"] = ",".join(str(d) for d in warm_dirs)
    return spec, expected


def mix_tables(sf):
    """Generated analytics tables, cached per generator version and sf."""
    key = _digest(Path(gen.__file__).read_bytes() + f"{sf}:{MIX_DATA_SEED}".encode())
    d = ROOT / ".bench_work" / "cache" / f"tables-{key}"
    if not (d / "DONE").exists():
        tmp = d.with_name(d.name + f".tmp{os.getpid()}")
        gen.write_tables(tmp, gen.analytics_tables(sf, MIX_DATA_SEED))
        (tmp / "DONE").write_text("ok\n")
        try:
            tmp.rename(d)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return d


def _digest(b):
    import hashlib
    return hashlib.sha256(b).hexdigest()[:16]


def mix_inputs(seed):
    gates = list(layers.GATES)
    rng = random.Random(seed)
    orders = []
    for _ in range(16):
        g = list(gates)
        rng.shuffle(g)
        orders.append(",".join(g))
    return {"data": str(mix_tables(MIX_SF)), "warm_passes": MIX_WARM_PASSES,
            "gates": ",".join(gates), "orders": ";".join(orders)}


# ----------------------------------------------------------------- checks

def check_batch(op, exp):
    """Reasons a batch's output is wrong (empty when correct)."""
    bad = []
    if op["error"]:
        return [op["error"]]
    got = {a["entity"]: [a["in"], a["out"]] for a in op["audits"]}
    for ent, want in exp["audits"].items():
        if got.get(ent) != want:
            bad.append(f"audit {ent}: got in/out {got.get(ent)}, expected {want}")
    for rule, n in sorted(op["violations"].items()):
        if n:
            bad.append(f"{n} violations of {rule}")
    for dim, want in exp["dims"].items():
        have = op["dims"].get(dim)
        if have != want:
            bad.append(f"{dim} dimension: got (rows, hash) {have}, expected {want}")
    return bad


def check_gate(op, expected):
    if op["error"]:
        return [op["error"]]
    want = expected.get(op["gate"])
    if want is None:
        return [f"no frozen result for {op['gate']}"]
    if [op["rows"], op["hash"]] != want:
        return [f"got (rows, hash) {[op['rows'], op['hash']]}, expected {want}"]
    return []


# ---------------------------------------------------------------- metrics

def ingest_metrics(res, expected):
    batches = [o for o in res["ops"] if o["kind"] == "batch"]
    ok_lat, failed, records, wall, stored = [], 0, 0, 0.0, []
    prev_dims = None
    problems = []
    for o in batches:
        exp = expected[o["window"]]
        bad = check_batch(o, exp)
        dims_now = o["dims"]
        if prev_dims and all(dims_now.get(k) for k in ("owners", "users")):
            for k in ("owners", "users"):
                if dims_now[k][0] < prev_dims[k][0]:
                    bad.append(f"{k} dimension shrank from {prev_dims[k][0]} to {dims_now[k][0]} rows")
        if all(dims_now.get(k) for k in ("owners", "users")):
            prev_dims = dims_now
        o["ok"] = not bad
        wall += o["latency_s"]
        if bad:
            failed += 1
            problems.append((o["index"], bad))
        else:
            ok_lat.append(o["latency_s"])
            records += exp["records"]
            stored.append(o["stored_bytes"] / exp["raw_bytes"])
    tail, pct, n = stats.tail(ok_lat, failed)
    m = {
        "setup_s": (res["setup_s"], "s"),
        "failed_ratio": (stats.failed_ratio(len(batches), failed), "ratio"),
        "ingest_rps": (records / wall if wall else None, "1/s"),
        "batch_p50_s": (stats.p50(ok_lat, failed), "s"),
        "batch_tail_s": (tail, "s", f"p{pct} of {n} batches" if pct else f"undefined: {n} batches, need > 10"),
        "stored_bytes_per_raw_byte": (statistics.median(stored) if stored else None, "ratio"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
    }
    generic = {"op_p50_s": m["batch_p50_s"][0],
               "pass_s": wall / len(batches) if batches and not failed else None}
    return m, generic, len(batches), failed, problems


def mix_metrics(res, expected):
    gates = [o for o in res["ops"] if o["kind"] == "gate"]
    passes = [o for o in res["ops"] if o["kind"] == "pass"]
    ok_lat, failed, problems = [], 0, []
    for o in gates:
        bad = check_gate(o, expected)
        o["ok"] = not bad
        if bad:
            failed += 1
            problems.append((f"{o['gate']} (pass {o['pass']})", bad))
        else:
            ok_lat.append(o["latency_s"])
    bad_passes = {o["pass"] for o in gates if not o["ok"]}
    pass_lat = [p["latency_s"] for p in passes if p["index"] not in bad_passes]
    tail, pct, n = stats.tail(ok_lat, failed)
    mix_s = stats.p50(pass_lat, len(passes) - len(pass_lat))
    m = {
        "setup_s": (res["setup_s"], "s"),
        "failed_ratio": (stats.failed_ratio(len(gates), failed), "ratio"),
        "mix_s": (mix_s, "s", f"median of {len(passes)} passes"),
        "query_p50_s": (stats.p50(ok_lat, failed), "s"),
        "query_tail_s": (tail, "s", f"p{pct} of {n} gates" if pct else f"undefined: {n} gates, need > 10"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
    }
    generic = {"op_p50_s": m["query_p50_s"][0], "pass_s": mix_s}
    warm = [o for o in res["ops"] if o["kind"] == "warmup"]
    if warm and warm[0]["errors"]:
        log("warm-up errors: " + "; ".join(warm[0]["errors"][:5]))
    return m, generic, len(gates), failed, problems


def fmt(v):
    if v is None:
        return "n/a"
    if v == stats.INF:
        return "inf"
    return f"{v:.6g}"


def finite(v):
    return v is not None and v != stats.INF


# -------------------------------------------------------------------- main

def run_jvm(classes, spec, work):
    spec_file = work / "spec.properties"
    spec_file.write_text("".join(f"{k}={str(v).replace(chr(92), '/')}\n" for k, v in spec.items()))
    (work / "tmp").mkdir(exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", *build.JAVA_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false",
           "-cp", build.classpath(classes), "perfbench.Main", str(spec_file)]
    logf = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)

    def stop(signum, _frame):  # never leave the JVM behind
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = "timeout"
    finally:
        logf.close()
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"harness exited with {rc}:\n{tail}")
    return json.loads(Path(spec["out"]).read_text())


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--freeze", action="store_true",
                    help="analytics_mix: write the observed gate results to mix_expected.json")
    a = ap.parse_args(argv)

    try:
        classes = build.ensure()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2

    work = ROOT / ".bench_work" / f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return measure(a, classes, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, classes, work):
    try:
        t0 = time.time()
        spec = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "cpus": len(os.sched_getaffinity(0)), "work": work,
                "out": work / "result.json"}
        if a.workload == "analytics_mix":
            spec.update(mix_inputs(a.seed))
            expected = {} if a.freeze else json.loads(MIX_EXPECTED_FILE.read_text())
        else:
            inputs, expected = ingest_inputs(a.workload, a.seed, work)
            spec.update(inputs)
        log(f"inputs generated in {time.time() - t0:.1f}s (not measured)")
        res = run_jvm(classes, spec, work)
    except Exception as e:  # noqa: BLE001 - report and fail without a result
        log(f"run failed: {e}")
        return 3

    if a.freeze:
        return freeze(res)
    if a.workload == "analytics_mix":
        m, generic, attempted, failed, problems = mix_metrics(res, expected)
    else:
        m, generic, attempted, failed, problems = ingest_metrics(res, expected)

    print(f"workload {a.workload}  seed {a.seed}  cores {spec['cpus']}  "
          f"closed loop, 1 client  trace {a.trace}")
    for name, (v, unit, *note) in m.items():
        print(f"  {name:28s} {fmt(v):>12s} {unit:6s} {note[0] if note else ''}")
    print("  setup phases: " + ", ".join(f"{k} {v:.2f}" for k, v in res["setup"].items()))
    for who, bad in problems[:20]:
        print(f"  FAILED {who}: {'; '.join(bad)[:600]}")
    print(f"  correct: {not problems}  attempted {attempted}  failed {failed}")

    if a.trace:
        per_layer, overhead_note = layers.per_layer(res, a.workload)
        trace_dir = ROOT / ".bench_work" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        trace_file = trace_dir / f"{a.workload}-seed{a.seed}.jsonl"
        with open(trace_file, "w") as f:
            for s in res.get("spans", []):
                f.write(json.dumps(s) + "\n")
        print(f"  tracing overhead: {overhead_note}; spans in {trace_file.relative_to(ROOT)}")
        for k, (v, unit) in per_layer.items():
            print(f"  {k:36s} {fmt(v):>12s} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        metrics = {
            "setup_s": {"value": m["setup_s"][0], "unit": "s"},
            "op_p50_s": {"value": generic["op_p50_s"], "unit": "s"},
            "pass_s": {"value": generic["pass_s"], "unit": "s"},
            "retained_heap_mb": {"value": m["retained_heap_mb"][0], "unit": "MB"},
        }
    for v in metrics.values():
        if not finite(v["value"]):
            v["value"] = None
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def freeze(res):
    gates = [o for o in res["ops"] if o["kind"] == "gate"]
    seen = {}
    for o in gates:
        if o["error"]:
            log(f"cannot freeze: {o['gate']} failed: {o['error']}")
            return 4
        got = [o["rows"], o["hash"]]
        if seen.setdefault(o["gate"], got) != got:
            log(f"cannot freeze: {o['gate']} differs between passes")
            return 4
    MIX_EXPECTED_FILE.write_text(json.dumps(dict(sorted(seen.items())), indent=1) + "\n")
    log(f"froze {len(seen)} gate results into {MIX_EXPECTED_FILE.name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
