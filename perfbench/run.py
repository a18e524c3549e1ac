#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload sip_ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the library and the benchmark on
first use (see build.py), then runs one JVM on local[N] with N = the
usable CPUs. The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}, where the metrics are the
end-to-end metrics of BENCHMARK.json with --trace 0 and its per-layer
metrics with --trace 1. The full run record (every metric under the
workload's own names, sample counts, tail percentiles and the host-noise
guard) is kept in .perfbench/records/, and a traced run's spans beside
it. Exits non-zero without a result when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

RUN_LIMIT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg: str, code: int = 2):
    print(msg, file=sys.stderr)
    sys.exit(code)


def run_jvm(cmd: list, log: Path, limit_s: float) -> int:
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return -1


def overhead(records: Path, workload: str, record: dict) -> float:
    """Traced op_cpu_ms over the median untraced op_cpu_ms of this
    workload's earlier records in the checkout, minus one; 0 when there
    are none."""
    untraced = []
    for f in records.glob(f"{workload}-*-trace0-*.json"):
        try:
            untraced.append(json.loads(f.read_text())["end_to_end"]["op_cpu_ms"])
        except (ValueError, KeyError):
            continue
    if not untraced:
        return 0.0
    return record["end_to_end"]["op_cpu_ms"] / statistics.median(untraced) - 1


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    root = Path.cwd()
    try:
        spec = json.loads((root / "BENCHMARK.json").read_text())
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json in {root}: {e}")
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    try:
        classes = build.build(root)
    except build.BuildError as e:
        fail(f"build failed: {e}")

    state = root / ".perfbench"
    records = state / "records"
    records.mkdir(parents=True, exist_ok=True)
    work = state / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    record_file = records / f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}.json"
    cores = len(os.sched_getaffinity(0))
    # C1 only: C2's compiler threads would take one to two of the few
    # cores through a run of a minute or less, so the timings would follow
    # their schedule more than the library's work
    cmd = ["java", "-Xmx2g", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={root / 'perfbench' / 'log4j2.properties'}"]
    cmd += [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
    cmd += ["-cp", os.pathsep.join([str(classes), str(build.spark_jars(root) / "*")]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work),
            "--cores", str(cores), "--record", str(record_file)]
    log = state / f"{record_file.stem}.log"
    code = run_jvm(cmd, log, RUN_LIMIT_S)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not record_file.is_file():
        tail = log.read_text(errors="replace").splitlines()[-40:] if log.is_file() else []
        fail("\n".join(tail + [f"run failed (exit {code}); log: {log}"]), 3)
    log.unlink()

    record = json.loads(record_file.read_text())
    if a.trace:
        layers = dict(record["per_layer"])
        layers["trace.overhead_frac"] = overhead(records, a.workload, record)
        record["per_layer"] = layers
        record_file.write_text(json.dumps(record))
        wanted, values = spec["per_layer"], layers
        unknown = set(layers) - {m["name"] for m in wanted}
        if unknown:
            fail(f"record holds per-layer metrics BENCHMARK.json lacks: {sorted(unknown)}", 3)
    else:
        wanted, values = spec["end_to_end"], record["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v if v is not None else 0.0, "unit": m["unit"]}
    named = {k: f"{v['value']:.4g} {v['unit']}" for k, v in record["named"].items()}
    print(f"# {a.workload} seed={a.seed} trace={a.trace} samples={record['samples']} "
          f"named={named} noise={record['noise']} known_defects={record['known_defects']}")
    for u in record["unexpected"]:
        print(f"# wrong output: {u}")
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
