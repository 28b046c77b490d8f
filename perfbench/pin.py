#!/usr/bin/env python3
"""Pin the per-gate result digests the benchmark checks (digests.json).

    python3 perfbench/pin.py

Generates the benchmark's inputs, runs one pass of every gate workload in
pin mode (each gate's rows are digested and written as parquet), checks
every result against its DuckDB oracle with scripts/check.py, and writes
perfbench/digests.json only if every gate passed. Run it after a change
that is meant to change a gate's answer, or the inputs (run.SCALE,
run.DATA_SEED, gen.py); never to make a failing run pass.
"""
import json
import shutil
import subprocess
import sys

import run

GATE_WORKLOADS = ("serve", "ingest", "curate")


def main():
    jars = run.spark_jars()
    classpath = run.build(jars)
    work = run.BUILD / "pin"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    run.gen.generate(data, run.SCALE, run.DATA_SEED)
    gates = {}
    for w in GATE_WORKLOADS:
        out = work / w
        out.mkdir(parents=True)
        cmd = run.jvm_command(classpath, jars, work, [
            "--workload", w, "--seed", "0", "--seconds", "0", "--data", str(data),
            "--out", str(out / "result.json"), "--pin", str(out)])
        subprocess.run(cmd, check=True, env=run.jvm_env(work))
        check = subprocess.run([sys.executable, str(run.ROOT / "scripts" / "check.py"),
                                str(out), str(data)], stdout=subprocess.PIPE, text=True)
        print(check.stdout)
        if check.returncode != 0:
            sys.exit(f"pin: {w} disagrees with the DuckDB oracle; digests.json not written")
        gates.update(json.loads((out / "digests.json").read_text()))
    (run.HERE / "digests.json").write_text(json.dumps(
        {"scale": run.SCALE, "data_seed": run.DATA_SEED,
         "gates": dict(sorted(gates.items()))}, indent=1) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"pin: {len(gates)} gates pinned")


if __name__ == "__main__":
    main()
