#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine
(`perfbench/engine`, which builds the library with the repository's own
build file) into `.bench_build/`; later runs reuse that build while the
sources are unchanged.

A run: the seeded generator renders all input; the engine process sets
up cold, the generator publishes on its open-loop schedule, then the
engine drains.  DuckDB then checks the committed output against the
event log, and the last line of stdout is the result object.  With
`--trace 1` the engine also records spans and listener events, and the
result holds the per-layer metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402
import spans as sp  # noqa: E402

CORES = 4
HEAP = "2g"
MAX_GEN_LATE_MS = 100.0
# feeds run this long at full rate before the measured `--seconds`: the
# first ten seconds of a fresh engine are JIT warm-up, and silver
# freshness falls over them
WARM_S = 10

# Events per second per symbol: the reference's recorded live feed ran
# about 7.2 rows/s over 3 symbols (BASELINE.md), and ThroughputProbe
# scales its symbol universe at 2 ev/s per symbol. A faster feed has
# more symbols, not faster ones; symbols are drawn uniformly.
PER_SYMBOL_RATE = 2
# Offered rate per feed on a 4-core box (see README.md for the
# evidence) and quote currencies per feed: feed_medallion quotes each
# base in USD and EUR on one feed, feed_spread puts USD on feed A and
# EUR on feed B.
WORKLOADS = {
    "feed_medallion": {"rate": 2500, "quotes": 2},
    "feed_spread": {"rate": 1000, "quotes": 1},
}
PAIR = ("B0000-USD", "B0000-EUR")

E2E = [("setup_s", "s"), ("events_per_s", "1/s"), ("cpu_s_per_mevent", "s"),
       ("mem_live_mb", "MB")]
# the dashboard read set runs after the measured window, in traced runs
SERVE_ROUNDS = 15

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_hash(repo):
    h = hashlib.sha256()
    files = [os.path.join(repo, "build.sbt")]
    for pat in ("src/main/**/*", "project/*.properties", "project/*.sbt",
                "perfbench/engine/build.sbt", "perfbench/engine/project/*.properties",
                "perfbench/engine/src/**/*"):
        files += glob.glob(os.path.join(repo, pat), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(repo, out):
    """Compile the engine (and through it the library); return the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(repo, "build.sbt"))
            and os.path.isdir(os.path.join(repo, "src", "main", "scala"))):
        sys.exit("perfbench: no library sources here (build.sbt, src/main/scala); "
                 "run from the repository root")
    digest = source_hash(repo)
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["hash"] == digest:
            return cached["classpath"]
    log("building the engine (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g") + f" -Djava.io.tmpdir={tmp}"
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=os.path.join(HERE, "engine"), env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("perfbench: engine build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"hash": digest, "classpath": cp}, f)
    return cp


# ----------------------------------------------------------------- engine

def engine_cmd(cp, root, workload, trace):
    serve = SERVE_ROUNDS if trace else 0
    return (["java", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={CORES}",
             f"-Djava.io.tmpdir={root}/tmp", "-Dspark.ui.enabled=false"] + JAVA_OPENS +
            ["-cp", cp, "perfbench.Engine", f"workload={workload}", f"root={root}",
             f"trace={trace}", f"cores={CORES}", f"serve_rounds={serve}",
             f"pair_a={PAIR[0]}", f"pair_b={PAIR[1]}"])


def start_engine(cp, root, workload, trace):
    os.makedirs(f"{root}/tmp", exist_ok=True)
    with open(f"{root}/engine.log", "w") as logf:
        return subprocess.Popen(engine_cmd(cp, root, workload, trace),
                                stdout=logf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)


def wait_file(path, proc, timeout):
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise RuntimeError(f"engine exited ({proc.returncode}) before {os.path.basename(path)}")
        if time.time() > deadline:
            raise RuntimeError(f"timed out waiting for {os.path.basename(path)}")
        time.sleep(0.01)


def finish(proc, timeout):
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("engine did not finish in time")
    if rc != 0:
        raise RuntimeError(f"engine failed with exit code {rc}")


def engine_tail(root):
    try:
        with open(f"{root}/engine.log") as f:
            return "".join(f.readlines()[-30:])
    except OSError:
        return ""


# ------------------------------------------------------------------ run

def render(root, workload, seed, seconds):
    w = WORKLOADS[workload]
    bases = w["rate"] // (PER_SYMBOL_RATE * w["quotes"])
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "render", root, workload,
                    str(seed), str(seconds), str(w["rate"]), str(bases), str(WARM_S)], check=True)


def run_once(cp, root, workload, seed, seconds, trace):
    """One full run in `root`; returns the engine's observations."""
    render(root, workload, seed, seconds)
    p = start_engine(cp, root, workload, trace)
    gen = None
    try:
        wait_file(f"{root}/ready", p, 170)
        gen = subprocess.Popen([sys.executable, os.path.join(HERE, "gen.py"), "publish", root],
                               stdin=subprocess.DEVNULL)
        if gen.wait(timeout=WARM_S + seconds + 60) != 0:
            raise RuntimeError("generator failed")
        finish(p, WARM_S + seconds + 150)
    except Exception as e:
        for q in (p, gen):
            if q is not None and q.poll() is None:
                q.kill()
                q.wait()
        raise RuntimeError(f"{e}\n{engine_tail(root)}")
    with open(f"{root}/engine.json") as f:
        return json.load(f)


def gen_slot_s(root):
    with open(f"{root}/schedule.json") as f:
        return json.load(f)["slot_us"] / 1e6


def measure(root, workload, eng, trace):
    """End-to-end metrics, the run report, and (traced) the per-layer
    metrics, with the oracle's verdict."""
    con = oracle.connect(root)
    with open(f"{root}/publish.json") as f:
        pub = json.load(f)
    t0 = pub["t0_ns"]
    late = pub["late_ms"]
    from_us = WARM_S * 1_000_000
    chk = (oracle.check_medallion if workload == "feed_medallion" else oracle.check_spread)(
        con, root, t0, from_us)
    n_events = con.execute(f"SELECT count(*) FROM ev WHERE kind <> 'warm' AND offset_us >= {from_us}").fetchone()[0]
    wall = (chk["last_commit_ns"] - t0) / 1e9 - WARM_S
    fresh = chk["fresh"]
    fresh_p = {"fresh_p50_s": sp.percentile(fresh, 50), "fresh_p90_s": sp.percentile(fresh, 90)}
    m = {"setup_s": eng["setup_s"],
         "events_per_s": n_events / wall,
         "cpu_s_per_mevent": (eng["cpu_end_s"] - eng["cpu_measured_from_s"]) / (n_events / 1e6),
         "mem_live_mb": eng["heap_live_end_mb"]}
    gen_late_p99 = sp.percentile(late, 99)
    # how long the last published events took to commit
    tail = (chk["last_commit_ns"] - t0) / 1e9 - len(late) * gen_slot_s(root)
    report = {"check": chk["detail"], "events": n_events, "wall_s": wall, "tail_s": tail, **fresh_p,
              "fresh_samples": len(fresh),
              "fresh_highest_supported_pct": sp.highest_supported(len(fresh)),
              "commit_batches": chk.get("batches"), "gen_late_p99_ms": gen_late_p99}
    failed = chk["bad"]
    problems = []
    if gen_late_p99 > MAX_GEN_LATE_MS:
        problems.append(f"generator ran late (p99 {gen_late_p99:.1f} ms): run invalid")
    layer = {}
    if trace:
        layer = layer_metrics(workload, root, eng, chk, n_events, gen_late_p99)
        layer.update(fresh_p)
        want = chk.get("late_expected")
        if want is None:
            want = con.execute("SELECT count(*) FROM ev WHERE kind = 'late'").fetchone()[0]
        q = "spread" if workload == "feed_spread" else "silver"
        got = layer[f"state.{q}.dropped_late_rows"]
        report["late_rows"] = {"expected_dropped": want, "dropped": got}
        if got != want:
            failed += abs(got - want)
            problems.append(f"late rows dropped {got}, expected {want}")
        layer["error_frac"] = failed / max(1, chk["expected"])
    return m, layer, report, chk["expected"], failed, problems


# -------------------------------------------------------------- per layer

STREAM_KEYS = ("batches", "batch_p50_ms", "discover_ms", "exec_ms", "commit_ms", "rows_in")
STATE_KEYS = ("rows_total", "mem_bytes", "update_ms", "removal_ms", "commit_ms", "dropped_late_rows")
SPANS = ["stream.batch"] + [f"stream.{ph}" for ph in sp.PHASES] + [
    "spark.stage", "serve", "serve.latest", "serve.arb", "serve.topk"]
# the per-layer metrics of every workload, in BENCHMARK.json's order;
# a layer a workload does not run reads 0
LAYER = (["gen.offered_events", "gen.late_p99_ms", "fresh_p50_s", "fresh_p90_s",
          "gold_fresh_p50_s", "gold_fresh_p90_s", "mem_peak_mb",
          "serve_p50_ms", "serve_p90_ms", "serve.latest_ms", "serve.arb_ms", "serve.topk_ms"] +
         [f"stream.{q}.{k}" for q in ("bronze", "silver", "gold", "spread") for k in STREAM_KEYS] +
         [f"state.{q}.{k}" for q in ("silver", "gold", "spread") for k in STATE_KEYS] +
         ["spread.pairs_per_row_in", "silver.parse_ms", "silver.rows_in", "silver.rows_out",
          "silver.keep_ratio", "silver.dedup_dropped", "spark.jobs", "spark.stages",
          "spark.task_cpu_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
          "spark.gc_s", "error_frac"] +
         [f"self.{n}_ms" for n in SPANS] +
         ["trace.spans", "trace.overhead_cpu_frac", "trace.overhead_events_per_s_frac",
          "trace.base_runs", "trace.base_range_cpu_frac", "trace.base_range_events_per_s_frac"])


def layer_metrics(workload, root, eng, chk, n_events, gen_late_p99):
    out = {k: 0 for k in LAYER}
    out["gen.offered_events"] = n_events
    out["gen.late_p99_ms"] = gen_late_p99
    for k in ("jobs", "stages", "task_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes"):
        out[f"spark.{k}"] = eng[f"spark_{k}"]
    out["spark.gc_s"] = eng["gc_s"]
    out["mem_peak_mb"] = eng["heap_peak_mb"]
    serve = eng["serve_ms"]
    if serve:
        out["serve_p50_ms"] = sp.percentile(serve, 50)
        out["serve_p90_ms"] = sp.percentile(serve, 90)
    spans = sp.load_spans(f"{root}/spans.jsonl")
    if workload == "feed_medallion":
        out["gold_fresh_p50_s"] = sp.percentile(chk["gold_fresh"], 50)
        out["gold_fresh_p90_s"] = sp.percentile(chk["gold_fresh"], 90)
    spans += stream_layers(out, eng, root, chk, 1 + max([s["id"] for s in spans] or [0]))
    sp.attach_stream_stages(spans)
    busy = {}
    for s in spans:
        busy[s["name"]] = busy.get(s["name"], 0) + (s["end_us"] - s["start_us"]) / 1000.0
    for name, key in (("serve.latest", "serve.latest_ms"), ("serve.arb", "serve.arb_ms"),
                      ("serve.topk", "serve.topk_ms")):
        out[key] = busy.get(name, 0)
    selfs = sp.self_times(spans)
    for s in spans:
        key = "stream.batch" if s["name"].endswith(".batch") else s["name"]
        if f"self.{key}_ms" in out:
            out[f"self.{key}_ms"] += selfs[s["id"]] / 1000.0
    out["trace.spans"] = len(spans)
    return out


def stream_layers(out, eng, root, chk, first_id):
    """Per-query metrics from the progress reports after setup, warm-up
    included (state drops over the whole run); returns the micro-batch
    spans rebuilt from them. The file sink reports no output rows, so
    rows out are the rows the oracle read from the committed files."""
    with open(f"{root}/queries.json") as f:
        names = {v: k for k, v in json.load(f).items()}
    progress = [p for p in eng["progress"] if "triggerExecution" in p.get("durationMs", {})]
    by_q = {}
    for p in progress:
        by_q.setdefault(names.get(p["id"]), []).append(p)
    for q, ps in by_q.items():
        d = lambda p, k: p["durationMs"].get(k, 0)  # noqa: E731
        run = [p for p in ps if sp.iso_us(p["timestamp"]) >= eng["ready_ms"] * 1000]
        out[f"stream.{q}.batches"] = len(run)
        if run:
            out[f"stream.{q}.batch_p50_ms"] = sp.percentile([d(p, "triggerExecution") for p in run], 50)
        out[f"stream.{q}.discover_ms"] = sum(d(p, "latestOffset") + d(p, "getBatch") for p in run)
        out[f"stream.{q}.exec_ms"] = sum(d(p, "addBatch") for p in run)
        out[f"stream.{q}.commit_ms"] = sum(d(p, "walCommit") + d(p, "commitOffsets") for p in run)
        out[f"stream.{q}.rows_in"] = sum(p["numInputRows"] for p in run)
        ops = [o for p in ps for o in p.get("stateOperators", [])]
        if ops:
            out[f"state.{q}.rows_total"] = max(o["numRowsTotal"] for o in ops)
            out[f"state.{q}.mem_bytes"] = max(o["memoryUsedBytes"] for o in ops)
            out[f"state.{q}.update_ms"] = sum(o["allUpdatesTimeMs"] for o in ops)
            out[f"state.{q}.removal_ms"] = sum(o["allRemovalsTimeMs"] for o in ops)
            out[f"state.{q}.commit_ms"] = sum(o["commitTimeMs"] for o in ops)
            out[f"state.{q}.dropped_late_rows"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
    if "spread" in by_q:
        ps = by_q["spread"]
        out["spread.pairs_per_row_in"] = chk["rows_out"] / max(1, sum(p["numInputRows"] for p in ps))
    if "silver" in by_q:
        ps = by_q["silver"]
        out["silver.parse_ms"] = out["stream.silver.exec_ms"]
        out["silver.rows_in"] = sum(p["numInputRows"] for p in ps)
        out["silver.rows_out"] = chk["rows_out"]
        out["silver.keep_ratio"] = out["silver.rows_out"] / max(1, out["silver.rows_in"])
        out["silver.dedup_dropped"] = sum(o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
                                          for p in ps for o in p.get("stateOperators", []))
    return sp.batch_spans(progress, names, first_id)


def untraced_history(out, workload):
    path = os.path.join(out, "runs", f"untraced-{workload}.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def overhead(history, seed, traced):
    """Traced minus untraced result, as a share of the untraced one: the
    median of the untraced runs of the same seed in this checkout, or of
    every seed when that seed has none. The base runs' range (max - min
    over median) is the noise the overhead reads against."""
    base = [h for h in history if h["seed"] == seed] or history
    out = {"trace.base_runs": len(base)}
    for key, name in (("cpu_s_per_mevent", "cpu"), ("events_per_s", "events_per_s")):
        vals = [h["metrics"][key] for h in base]
        med = statistics.median(vals)
        out[f"trace.overhead_{name}_frac"] = traced[key] / med - 1
        out[f"trace.base_range_{name}_frac"] = (max(vals) - min(vals)) / med
    return out


def one_run(cp, out, a, trace):
    """Run and measure once; an untraced run joins the history the
    tracing overhead reads against."""
    work = os.path.join(out, "runs", f"{a.workload}-s{a.seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        eng = run_once(cp, work, a.workload, a.seed, a.seconds, trace)
        res = measure(work, a.workload, eng, trace)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)
    if not trace:
        with open(os.path.join(out, "runs", f"untraced-{a.workload}.jsonl"), "a") as f:
            f.write(json.dumps({"seed": a.seed, "metrics": res[0]}) + "\n")
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()
    repo = os.getcwd()
    out = os.path.join(repo, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp = build(repo, out)
    os.makedirs(os.path.join(out, "runs"), exist_ok=True)
    try:
        if a.trace and not untraced_history(out, a.workload):
            log("no untraced run of this workload yet: making one to read the tracing overhead against")
            one_run(cp, out, a, 0)
        m, layer, report, attempted, failed, problems = one_run(cp, out, a, a.trace)
    except Exception as e:  # a run that cannot finish reports no result
        log(f"run failed: {e}")
        sys.exit(1)
    if a.trace:
        layer.update(overhead(untraced_history(out, a.workload), a.seed, m))
    units = dict(E2E)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "report": report,
                      "e2e": m if a.trace else None, "problems": problems}))
    metrics = ({k: {"value": m[k], "unit": units[k]} for k, _ in E2E} if not a.trace else
               {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()})
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def layer_unit(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_frac") or name.endswith("ratio") or name.endswith("per_row_in"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
