"""Runs one workload of the benchmark and prints its result.

    python3 perfbench/run.py --workload crowd_stream --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark (perfbench/build.py), prepares the
analytics fixture tables and a class-data archive once per build, then
runs the workload in one JVM. Standard output ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list (a layer the workload does not exercise
reads 0) and the run's spans are written for perfbench/reduce_spans.py.
The exit code is 0 only if every correctness check passed and nothing
failed.

Options for the self-check and for maintenance:
  --tiny            small inputs (the self-check's size)
  --plant KIND      plant a wrong answer: digest | latch
  --record          rewrite perfbench/expected/digests.tsv from the engine
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
BENCH = build.BENCH
DIGESTS = BENCH / "expected" / "digests.tsv"
WORKLOADS = ("crowd_stream", "analytics_multijob")
CHILD_TIMEOUT_S = 170
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xms2g", "-Xmx2g", "-Xss8m", "-Xlog:disable", "-Xlog:all=error:stderr",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    "-Dspark.sql.session.timeZone=UTC",
    f"-Dlog4j2.configurationFile={BENCH / 'conf' / 'log4j2.properties'}",
]


def jvm(jar: Path, work: Path, args: list, on_line=None, cds=None) -> int:
    """Runs perfbench.Main; every stdout line goes to `on_line`. `cds` is
    ("dump" | "use", archive): write the class-data archive at exit, or
    start from it."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    share = []
    if cds and cds[0] == "dump":
        share = [f"-XX:ArchiveClassesAtExit={cds[1]}"]
    elif cds and cds[1].is_file():
        share = [f"-XX:SharedArchiveFile={cds[1]}"]
    cmd = (["java"] + JVM_OPTS + share + [f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{jar}{os.pathsep}{build.spark_jars()}/*", "perfbench.Main"]
           + args + ["--work", str(work)])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(CHILD_TIMEOUT_S, proc.kill)
    timer.start()
    try:
        for line in proc.stdout:
            (on_line or (lambda s: print(s, end="", flush=True)))(line)
        return proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def prepare(jar: Path) -> Path:
    """Once per build: the analytics fixture tables (full and tiny) and
    the JVM's class-data archive of the classes the workloads load."""
    d = build.build_dir() / f"prepared-{jar.stem}"
    if (d / ".complete").is_file():
        return d
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    work = build.build_dir() / "work" / f"prepare-{os.getpid()}"
    try:
        rc = jvm(jar, work, ["--mode", "prepare", "--data", str(d / "fixtures"),
                             "--digests", str(DIGESTS)],
                 on_line=lambda s: None, cds=("dump", d / "classes.jsa"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        raise build.BuildError(f"preparing fixtures exited with {rc}")
    (d / ".complete").touch()
    return d


def compose(raw: dict, spec: dict, trace: bool) -> dict:
    """The result line: exactly the metrics BENCHMARK.json lists for this mode."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    metrics, problems = {}, []
    for m in wanted:
        got = raw["metrics"].get(m["name"])
        if got is None:
            if not trace:
                problems.append(f"metric {m['name']} was not measured")
                continue
            got = {"value": 0.0, "unit": m["unit"]}  # layer not exercised here
        if got["unit"] != m["unit"]:
            problems.append(f"metric {m['name']} has unit {got['unit']}, expected {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    for p in problems:
        print(f"CHECK FAILED: {p}")
    return {"correct": bool(raw["correct"]) and not problems,
            "attempted": int(raw["attempted"]), "failed": int(raw["failed"]),
            "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--plant", choices=("digest", "latch"))
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    try:
        jar = build.build()
        prepared = prepare(jar)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    cds = ("use", prepared / "classes.jsa")
    data = prepared / "fixtures" / ("tiny" if a.tiny else "full")
    size = ["--tiny"] if a.tiny else []
    work = build.build_dir() / "work" / f"{a.workload or 'record'}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    raw = []
    try:
        if a.record:
            return jvm(jar, work, ["--mode", "record", "--data", str(data),
                                   "--digests", str(DIGESTS)] + size, cds=cds)

        def on_line(line):
            if line.startswith("PERFBENCH_RESULT "):
                raw.append(json.loads(line[len("PERFBENCH_RESULT "):]))
            else:
                print(line, end="", flush=True)

        args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", str(data), "--digests", str(DIGESTS),
                "--out", str(build.build_dir() / ("out-tiny" if a.tiny else "out"))] + size
        if a.plant:
            args += ["--plant", a.plant]
        rc = jvm(jar, work, args, on_line, cds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not raw:
        print(f"perfbench: the run ended with code {rc} and no result", file=sys.stderr)
        return rc or 2
    result = compose(raw[-1], spec, bool(a.trace))
    print(json.dumps(result), flush=True)
    ok = rc == 0 and result["correct"] and result["failed"] == 0
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
