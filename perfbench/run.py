#!/usr/bin/env python3
"""Cold-start pipeline benchmark.

    python3 perfbench/run.py --workload <etl_hourly|llm_corpus>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source (perfbench/build.sbt, first run only), generates the workload's
inputs from the seed, runs the workload in a fresh JVM, checks every op's
output against the program's DuckDB oracle SQL, and prints one JSON object
as the last line of standard output: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. Metric names and units come from
BENCHMARK.json.
"""
import argparse
import hashlib
import importlib.util
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import stats  # noqa: E402

# Untimed warm-up iterations per workload, run after the oracle pass (which
# is a first pass over the ops itself). In a fresh JVM the first passes are
# the slowest, while the JIT compiles the driver's code: one pass covers
# that for etl_hourly's long iterations, two for llm_corpus's short ones.
# Timed iterations then run until --seconds of them have passed, and at
# least MIN_TIMED of them (Main's Run.MinTimed).
WARMUP = {"etl_hourly": 0, "llm_corpus": 1}
MIN_TIMED = 2
# etl_hourly reads a never-seen drop per iteration: enough drops for
# iterations as short as this many seconds.
SHORTEST_ETL_ITERATION_S = 1.0
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for base in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in base.glob("*") if p.is_file())
    for base in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def classpath():
    """Runtime classpath of the harness and the program, building both on
    the first call for a given source tree."""
    cache = WORK / "build" / f"classpath-{source_digest()}.txt"
    if cache.exists():
        return cache.read_text().strip()
    cache.parent.mkdir(parents=True, exist_ok=True)
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log("building program and harness (first run in this checkout)")
    build_log = cache.parent / "build.log"
    with open(build_log, "w") as out:
        proc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export perfbench/Runtime/fullClasspath"],
                         cwd=BENCH, stdout=subprocess.PIPE, stderr=out,
                         timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.decode().splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"build failed, see {build_log}")
    cp = lines[-1].strip()
    if not all(Path(p).exists() for p in cp.split(os.pathsep)):
        fail(f"build printed no usable classpath, see {build_log}")
    cache.write_text(cp)
    return cp


# ---------------------------------------------------------------- processes

def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group and return it finished. Whatever
    the group still holds afterwards (or on timeout) is killed and waited
    for, so nothing outlives the step and competes with the next one."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        reap(proc)
        fail(f"{cmd[0]} timed out after {timeout:.0f} s")
    except BaseException:
        reap(proc)
        raise
    reap(proc)
    proc.stdout = out
    return proc


def reap(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    # the group is gone once signal 0 finds no member
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def jvm(cp, workload, inputs, work, seconds, trace):
    """Run the workload in one fresh JVM and return its run record."""
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    record = work / "record.json"
    opens = [a for m in JDK_OPENS for a in ("--add-opens", f"{m}=ALL-UNNAMED")]
    (work / "tmp").mkdir()
    # temp files (native libraries, spill scratch) stay in the work dir
    # C1 only, the JIT setting commonly used for short-lived serverless
    # JVMs: compilation settles within the untimed passes, where C2 keeps
    # recompiling through the whole run and makes its times drift
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           *opens, "-Dspark.ui.enabled=false",
           "-cp", cp, "graft.perfbench.Main", workload, str(inputs), str(work),
           str(cores()), str(WARMUP[workload]), str(seconds), str(trace), str(record)]
    logfile = WORK / "logs" / f"{workload}.log"
    logfile.parent.mkdir(parents=True, exist_ok=True)
    with open(logfile, "w") as out:
        proc = run_child(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                         timeout=RUN_TIMEOUT_S)
    if proc.returncode != 0 or not record.exists():
        fail(f"benchmark JVM exited with {proc.returncode}, see {logfile}")
    return json.loads(record.read_text())


def cores():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- inputs

def inputs_for(workload, seed, drops):
    """Generated input directory for (workload, seed); written once, untimed.
    etl_hourly gets one hourly drop for the oracle pass and one for every
    iteration the run may reach, so no iteration reads a drop another one
    has read."""
    digest = hashlib.sha256(Path(gen.__file__).read_bytes()).hexdigest()[:12]
    base = WORK / "inputs"
    out = base / f"{workload}-{seed}-{drops}-{digest}"
    if not (out / "manifest.json").exists():
        shutil.rmtree(out, ignore_errors=True)
        tmp = base / f".tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, str(tmp), drops)
        tmp.rename(out)
        # keep the input cache small: the newest few directories only
        old = sorted((p for p in base.iterdir() if p.is_dir() and not p.name.startswith(".")),
                     key=lambda p: p.stat().st_mtime)[:-4]
        for p in old:
            shutil.rmtree(p, ignore_errors=True)
    return out


# ---------------------------------------------------------------- output check

def load_check_oracle():
    spec = importlib.util.spec_from_file_location("check_oracle", ROOT / "tools" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_outputs(rec, work):
    """Compare each op's first-pass dump against the program's oracle SQL
    in DuckDB over the same generated inputs, canonicalised as
    tools/check_oracle.py does. Ops without oracle SQL must return rows.
    Returns op -> reason for every op that failed or mismatched."""
    import duckdb
    import pyarrow.dataset as ds
    co = load_check_oracle()
    dumps = work / "dumps"
    oracle = json.loads((dumps / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{rec['verify_dir']}/{t}.parquet')")
    bad = {}
    for op, status in rec["verify"].items():
        if status != "ok":
            bad[op] = status
            continue
        got = ds.dataset(str(dumps / op)).to_table()
        if op not in oracle:
            if got.num_rows == 0:
                bad[op] = "rows-only check: no rows"
            continue
        try:
            want = con.execute(oracle[op]).arrow()
        except Exception as e:  # noqa: BLE001 - reported as a mismatch
            bad[op] = f"oracle SQL error: {e}"
            continue
        gcols, grows = co.rows_of(got)
        wcols, wrows = co.rows_of(want)
        if gcols != wcols:
            bad[op] = f"columns differ: {gcols} vs {wcols}"
        elif grows != wrows:
            bad[op] = f"rows differ ({len(grows)} vs {len(wrows)})"
    return bad


# ---------------------------------------------------------------- metrics

def timings(rec):
    """The run's wall-clock figures: median timed iteration, median and
    tail op latency, and ops per timed second."""
    secs = [s["s"] for s in rec["samples"]]
    p, tail_v, beyond, n = stats.tail(secs)
    where = f"p{p:g}" if p is not None else "the maximum (no percentile has 10 beyond it)"
    return {
        "wall_s": stats.median(rec["iteration_s"]),
        "op_p50_s": stats.median(secs),
        "op_tail_s": tail_v,
        "ops_per_s": len(secs) / sum(rec["iteration_s"]),
    }, f"op_tail_s is {where} of {n} op samples, {beyond} samples beyond it"


def end_to_end(rec):
    ops = len(rec["samples"])
    return {
        "setup_s": rec["setup_s"],
        "jobs_per_op": rec["timed_jobs"] / ops,
        "tasks_per_op": rec["timed_tasks"] / ops,
        "scan_bytes_per_input_byte": rec["timed_bytes_read"] / rec["timed_input_bytes"],
        "bytes_stored_per_input_byte": rec["stored_bytes"] / rec["input_bytes"],
        "heap_live_mb": rec["heap_live_mb"],
    }


def per_layer(rec, names):
    tr = rec["trace"]
    run_spans = [s for s in tr["spans"] if s["phase"] in ("setup", "run")]
    for s in run_spans:
        if s["layer"] == "op":
            s["layer"] = stats.layer_of(s["name"], rec["layers"])
    counters = stats.layer_counters(dict(tr, spans=run_spans), rec["cores"])
    special = {
        "streaming.batches": rec["stream"]["batches"],
        "streaming.wal_s": rec["stream"]["wal_s"],
        "streaming.state_commit_s": rec["stream"]["state_commit_s"],
        "llm.warmup.resident_mb": rec["warmup_resident_mb"],
        **{f"bench.{k}": v for k, v in timings(rec)[0].items()},
        # the harness's own time inside the timed iterations
        "bench.overhead_s": counters.get("bench", {}).get("self_s", 0.0),
    }
    m = {}
    for name in names:
        layer, counter = name.rsplit(".", 1)
        if name in special:
            m[name] = special[name]
        elif layer.startswith("functions."):
            m[name] = rec.get("functions_rows_per_s", {}).get(layer.split(".", 1)[1], 0.0)
        elif counter in stats.COUNTERS or counter in stats.EXTRA_COUNTERS:
            m[name] = counters.get(layer, {}).get(counter, 0.0)
        else:
            fail(f"no per-layer metric named {name}")
    # accounting: every timed span's self time adds up to the iteration
    # spans' durations, which add up to the traced wall time
    timed = [s for s in run_spans if s["phase"] == "run"]
    top = sum((s["end"] - s["start"]) / 1000.0 for s in timed if s["parent"] == -1)
    selfs = sum(stats.self_times(timed).values()) / 1000.0
    log(f"traced wall {sum(rec['iteration_s']):.3f} s = top-level spans {top:.3f} s "
        f"= sum of span self times {selfs:.3f} s, of which harness overhead "
        f"{special['bench.overhead_s']:.3f} s")
    return m


def main():
    # a terminated run unwinds like an interrupted one, so run_child still
    # kills and waits for the build or the benchmark JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala", ROOT / "tools" / "check_oracle.py",
                 ROOT / "BENCHMARK.json"):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} is missing: run from the root of a full checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    cp = classpath()
    drops = 1
    if a.workload == "etl_hourly":
        drops += WARMUP[a.workload] + max(MIN_TIMED, math.ceil(a.seconds / SHORTEST_ETL_ITERATION_S))
    t0 = time.monotonic()
    inputs = inputs_for(a.workload, a.seed, drops)
    t1 = time.monotonic()
    runs = WORK / "runs" / f"{a.workload}-{os.getpid()}"
    try:
        rec = jvm(cp, a.workload, inputs, runs / "run", a.seconds, a.trace)
        t2 = time.monotonic()
        bad = check_outputs(rec, runs / "run")
        t3 = time.monotonic()
    finally:
        shutil.rmtree(runs, ignore_errors=True)
    log(f"inputs {t1 - t0:.1f} s, benchmark JVM {t2 - t1:.1f} s, output check {t3 - t2:.1f} s")

    failed_ops = {s["op"] for s in rec["samples"] if not s["ok"]}
    failed = sum(1 for s in rec["samples"] if not s["ok"] or s["op"] in bad)
    attempted = len(rec["samples"])
    for op, why in sorted(bad.items()):
        log(f"output check FAIL {op}: {why}")
    for s in rec["samples"]:
        if not s["ok"]:
            log(f"op FAIL {s['op']} (iteration {s['iter']}): {s['error']}")
    log(f"output check: {len(rec['verify']) - len(bad)}/{len(rec['verify'])} ops pass; "
        f"{attempted} timed ops over {len(rec['iteration_s'])} iterations, {failed} failed")

    wanted = spec["per_layer" if a.trace else "end_to_end"]
    values = (per_layer(rec, [w["name"] for w in wanted]) if a.trace
              else end_to_end(rec))
    metrics = {w["name"]: {"value": values[w["name"]], "unit": w["unit"]} for w in wanted}
    for k, v in metrics.items():
        print(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    # wall-clock figures are printed on every run but gated only through
    # the traced run's bench.* metrics: on a shared host they move with
    # the neighbours' load by more than any bound the gate allows
    times, tail_note = timings(rec)
    for k, v in times.items():
        print(f"{a.workload} {k} = {v:.6g} {'1/s' if k == 'ops_per_s' else 's'} (wall clock)")
    print(tail_note)
    print(f"{a.workload} fail_frac = {failed / attempted:.6g} ({failed} of {attempted} ops "
          f"failed or mismatched the oracle)")
    print(json.dumps({"correct": not bad and not failed_ops, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(1 if bad or failed_ops else 0)


if __name__ == "__main__":
    main()
