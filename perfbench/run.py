#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

    python3 perfbench/run.py --workload <convert|serve|ingest> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the program from this checkout's sources (src/main/scala) and the
harness (perfbench/harness) with the Scala compiler shipped in
$SPARK_HOME/jars, generates the inputs, runs the workload in one JVM with
one closed-loop client thread on local[nproc], checks every op's result,
and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics of a traced phase that follows an untraced one. Everything the
run writes stays under .bench_build/ in the checkout; the last run's raw
records (and spans, when traced) are kept in .bench_build/last/<workload>/.
Exit code 0 only when every op was correct. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("convert", "ingest", "serve", "curate")
# Inputs: the generated tables are fixed (their digests are pinned in
# digests.json); --seed orders every pass and makes the convert ledger.
SCALE = 0.02
DATA_SEED = 42
HEAP = "3g"
# C1 only: a run is a fresh JVM that never reaches C2's steady state, and
# how much C2 compiling lands inside the timed phase varied run to run by
# more than the bounds allow; C1 finishes compiling early. C1 alone gets a
# 48 MiB code cache by default, which Spark's generated classes fill
# within a minute; the JVM then stops compiling, flushes and recompiles,
# and that churn took half of the CPU of a timed phase.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]
RUN_LIMIT_S = 170.0
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, or the jars of the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not home or not jars.is_dir():
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def sources_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_scala(name, files, classpath, jars):
    """Compile `files` into BUILD/<name> unless its stamp matches their
    hash; refuse to continue on classes that are not those of the sources."""
    out, stamp = BUILD / name, BUILD / f"{name}.stamp"
    digest = sources_hash(files) + ":" + classpath
    if out.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return out
    tmp = BUILD / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = [str(j) for j in sorted(jars.glob("scala-*.jar"))
                if j.name.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    if len(compiler) != 3:
        fail(f"no Scala compiler in {jars}")
    cp = classpath + ":" + ":".join(str(j) for j in sorted(jars.glob("*.jar")))
    t0 = time.monotonic()
    p = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-cp", cp]
                       + [str(f) for f in files],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        print(p.stdout[-4000:], file=sys.stderr)
        fail(f"compiling {name} failed")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp.write_text(digest)
    print(f"perfbench: compiled {name} ({len(files)} files) in "
          f"{time.monotonic() - t0:.0f} s", file=sys.stderr)
    return out


def build(jars):
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((HERE / "harness").glob("*.scala"))
    if not program:
        fail("no program sources under src/main/scala")
    if not harness:
        fail("no harness sources under perfbench/harness")
    BUILD.mkdir(parents=True, exist_ok=True)
    prog = compile_scala("program", program, "", jars)
    harn = compile_scala("harness", harness, str(prog), jars)
    return f"{harn}:{prog}"


def jvm_command(classpath, jars, work, harness_args):
    """The harness JVM's command line; it keeps its temp files in `work`
    (run it with jvm_env(work))."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    return ["java", *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
            *JIT, "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}", "-Dfile.encoding=UTF-8",
            "-Dsun.jnu.encoding=UTF-8", "-cp", f"{classpath}:{jars}/*", "perfbench.Harness",
            "--work", str(work), *harness_args]


def jvm_env(work):
    """UTF-8 locale for the non-ASCII table names; Spark's scratch under
    `work` even when the caller's environment names other local dirs."""
    return dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8",
                SPARK_LOCAL_DIRS=str(work / "local"))


def run_jvm(args, classpath, jars, work, data, started):
    out = work / "result.json"
    cmd = jvm_command(classpath, jars, work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", str(data), "--out", str(out), "--digests", str(args.digests),
        "--verbose", "1" if args.verbose else "0"])
    log = work / "jvm.log"
    launched = time.time()
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, stdout=lf, stderr=None if args.verbose else lf, env=jvm_env(work),
                               timeout=max(RUN_LIMIT_S - (time.monotonic() - started), 10))
        except subprocess.TimeoutExpired:
            fail("the run exceeded its time limit", 3)
    if p.returncode != 0 or not out.is_file():
        print(log.read_text()[-4000:], file=sys.stderr)
        fail(f"the harness exited with code {p.returncode}", 3)
    return json.loads(out.read_text()), launched


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digests", type=Path, default=HERE / "digests.json",
                    help="pinned per-gate digests (default: perfbench/digests.json)")
    ap.add_argument("--verbose", action="store_true", help="print each op to stderr")
    args = ap.parse_args()

    jars = spark_jars()
    classpath = build(jars)
    pinned = json.loads(args.digests.read_text())
    if (pinned["scale"], pinned["data_seed"]) != (SCALE, DATA_SEED):
        fail(f"{args.digests} was pinned for other inputs")

    started = time.monotonic()
    work = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.monotonic()
        gen.generate(work / "data", SCALE, DATA_SEED)
        gen_s = time.monotonic() - t0
        res, launched = run_jvm(args, classpath, jars, work, work / "data", started)
        last = BUILD / "last" / args.workload
        shutil.rmtree(last, ignore_errors=True)
        last.mkdir(parents=True)
        shutil.copy(work / "result.json", last)
        if args.trace:
            shutil.copy(work / "spans.jsonl", last)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # setup_s: input generation + JVM launch to a ready session + median of
    # the repeated input set-up + the one-off warm-up and cold builds
    setup_s = (gen_s + res["session_ready_ms"] / 1e3 - launched
               + statistics.median(res["prepare_s"]) + res["warm_up_s"])
    ops = [o for o in res["ops"] if o["phase"] == "untraced"]
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"])
    if args.trace:
        # per-layer values from the traced phase; the overhead compares it
        # with the untraced phases before and after it
        traced = [o for o in res["ops"] if o["phase"] == "traced"]
        untraced = [o for o in res["ops"] if o["phase"] != "traced"]
        spans = [json.loads(x) for x in (last / "spans.jsonl").read_text().splitlines() if x]
        metrics = stats.per_layer(traced, spans, untraced, res["phases"], res["kernels"],
                                  res["nproc"], res["heap_max_mb"])
    else:
        metrics = stats.end_to_end(ops, setup_s, res["retained_heap_mb"])
    correct = failed == 0 and not res["setup_failures"]

    for o in res["ops"]:
        if not o["ok"]:
            print(f"perfbench: FAILED {o['phase']} {o['name']}: {o.get('error')}", file=sys.stderr)
    for f in res["setup_failures"]:
        print(f"perfbench: FAILED set-up {f}", file=sys.stderr)
    t = stats.tail([o["latency_s"] for o in ops])
    phase = res["phases"][0]
    context = {"nproc": res["nproc"], "heap_max_mb": res["heap_max_mb"],
               "steal_frac": phase["steal_frac"], "iowait_frac": phase["iowait_frac"],
               "gc_s": phase["gc_s"], "jit_s": phase["jit_s"],
               "ops": attempted, "failed_ratio": stats.failed_ratio(attempted, failed),
               "op_tail_s": t and t[0], "tail_percentile": t and t[1], "tail_n": len(ops)}
    (last / "summary.json").write_text(json.dumps({"context": context, "metrics": metrics}))
    print("perfbench: context " + json.dumps(context), file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
