#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the library and the JVM side
(`perfbench/build.py`), generates the workload's inputs from the seed
(`perfbench/gen.py`, which runs `scripts/gen_sf.py`; cached per seed and
size under `.bench_build/inputs`), runs the
workload in one JVM (`graft.perfbench.Main`), checks the output against the
DuckDB oracle (`scripts/check_correctness.py --linear-replay`) or, for
`tick_stream`, against the batch chain, and prints:

  * one line per metric, `name value unit`, then the verdict;
  * a `{"record": ...}` line: commit, cores, heap, Spark conf, load average
    and other processes' CPU share, every rep;
  * as the last line, `{"correct", "attempted", "failed", "metrics"}` with
    the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its per-layer
    metrics (`--trace 1`).

Everything it writes stays under `.bench_build/` in the checkout; traced
runs leave their spans in `.bench_build/traces/<workload>-seed<N>.json`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("ticks_to_calcs", "corpus_dedup", "tick_stream")
HEAP = "3g"
JVM_FLAGS = [
    # a fixed heap with a fixed 256 MB young generation: the collector cannot
    # grow the young generation towards the heap ceiling, so the peak resident
    # set follows what the run promotes. The parallel collector has no
    # concurrent cycles: with G1, four pipeline_full runs on an idle 4-core
    # machine took 6.2-9.8 s a rep, with the parallel collector 6.8-7.5 s.
    "-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn256m",
    "-XX:-UsePerfData"]
# C1 only where the tick plans run: Spark generates ~90 fresh classes per
# pipeline_full rep, and with C2 their compilation varied a rep's CPU by
# 20-27 s and its wall by 6.0-8.0 s from one JVM to the next on an idle
# 4-core machine. corpus_dedup keeps C2: four runs took 10.8-12.6 s a rep
# with it, ten runs 11.3-16.6 s with C1 only.
JIT_FLAGS = {"ticks_to_calcs": ["-XX:TieredStopAtLevel=1"], "tick_stream": ["-XX:TieredStopAtLevel=1"]}
JVM_TIMEOUT_S = 165
# Spark 4 on JDK 17 outside spark-submit (the list in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def load_avg():
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except OSError:
        return -1.0


def commit(root):
    try:
        return subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def inputs(root, seed):
    d = root / ".bench_build" / "inputs" / gen.key(seed)
    if (d / "inputs.json").exists():
        return d, 0.0
    t0 = time.time()
    tmp = d.with_name(d.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    gen.generate(root, tmp, seed)
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d, time.time() - t0


def run_jvm(root, classes, workload, inp, out, seconds, trace):
    tmp = root / ".bench_build" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    launched_ms = int(time.time() * 1000)
    cmd = ["java", *ADD_OPENS, *JVM_FLAGS, *JIT_FLAGS.get(workload, []), f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graft.perfbench.Main", workload, str(inp), str(out),
           str(seconds), "1" if trace else "0", str(launched_ms)]
    with open(out / "jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env, cwd=root,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM / Ctrl-C of this script: the JVM never outlives it
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    result = out / "result.json"
    if rc != 0 or not result.exists():
        tail = (out / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        log("JVM failed (%s):\n%s" % (rc, "\n".join(tail)))
        return None
    return json.loads(result.read_text())


def oracle_check(root, inp, out, rows):
    """scripts/check_correctness.py on the warm-up rep's output; every timed
    rep's digest was already compared with that output in the JVM."""
    t0 = time.time()
    r = subprocess.run([sys.executable, str(root / "scripts" / "check_correctness.py"), str(inp),
                        str(out), "--only", ",".join(rows), "--linear-replay"],
                       capture_output=True, text=True, cwd=root)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    passed = r.returncode == 0 and sum(ln.startswith("PASS") for ln in lines) == len(rows)
    return passed, lines, time.time() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd().resolve()
    for need in ("BENCHMARK.json", "src/main/scala/graft", "scripts/check_correctness.py"):
        if not (root / need).exists():
            fail(f"{need} not found: run from the root of a graft checkout")
    spec = json.loads((root / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classes, source_key, build_s = build.build(root)
    inp, gen_s = inputs(root, a.seed)
    log(f"build {build_s:.1f} s, input generation {gen_s:.1f} s (neither counts in setup_s)")

    out = root / ".bench_build" / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    load0 = load_avg()
    res = run_jvm(root, classes, a.workload, inp, out, a.seconds, a.trace == 1)
    load1 = load_avg()
    if res is None:
        fail("the workload did not complete")

    checks = {"no_failed_attempts": res["failed"] == 0}
    oracle_lines, oracle_s = [], 0.0
    if "stream_check" in res:
        checks["stream_equals_batch"] = res["stream_check"]["ok"]
    if a.workload != "tick_stream":
        checks["oracle"], oracle_lines, oracle_s = oracle_check(root, inp, out, res["rows"])
    checks.update(res.get("trace_checks", {}))
    correct = all(checks.values())

    # a layer the workload bypasses reads 0; a workload may report more
    # metrics than BENCHMARK.json lists (tick_stream), printed here only
    values = res["per_layer"] if a.trace else res["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    for name in list(metrics) + sorted(set(values) - set(metrics)):
        print(f"{name} {values.get(name, 0.0)} {units.get(name, '')}".rstrip())
    failed_frac = res["failed"] / max(res["attempted"], 1)
    print(f"failed_frac {failed_frac} ratio ({res['failed']} of {res['attempted']})")
    for ln in oracle_lines:
        print(f"oracle: {ln}")
    print(f"verdict: {'correct' if correct else 'WRONG'} {json.dumps(checks, sort_keys=True)}")

    if a.trace and res.get("trace_file"):
        traces = root / ".bench_build" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        trace = {"workload": a.workload, "seed": a.seed,
                 "spans": json.loads(Path(res["trace_file"]).read_text()), "counters": res["per_layer"]}
        if res.get("stream_trace_file"):
            trace["stream_spans"] = json.loads(Path(res["stream_trace_file"]).read_text())
        (traces / f"{a.workload}-seed{a.seed}.json").write_text(json.dumps(trace))
    record = {k: v for k, v in res.items()
              if k not in ("per_layer", "end_to_end", "trace_file", "stream_trace_file")}
    record.update({
        "commit": commit(root), "source_key": source_key, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": len(os.sched_getaffinity(0)), "heap": HEAP,
        "gen_s": gen_s, "build_s": build_s, "oracle_s": oracle_s, "checks": checks,
        "run_load_1m_before": load0, "run_load_1m_after": load1,
        "failed_frac": failed_frac})
    records = root / ".bench_build" / "records"
    records.mkdir(parents=True, exist_ok=True)
    line = json.dumps({"record": record, "metrics": values}, sort_keys=True)
    (records / f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json").write_text(line)
    print(line)
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
