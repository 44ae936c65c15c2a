#!/usr/bin/env python3
"""Meter-engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload meter_write --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into `.bench_build/`; later runs
reuse the build while no source file changed. The run prints every metric
by name with its unit, then, as the last line of standard output, one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports
the end-to-end metrics of BENCHMARK.json, `--trace 1` its per-layer ones.
The exit code is 0 only when every output check passed.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build" / "perfbench"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, for the staleness stamp."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def fingerprint():
    return "\n".join(f"{p.relative_to(ROOT)} {p.stat().st_size} {p.stat().st_mtime_ns}"
                     for p in sources() if p.exists())


def build():
    """Compile engine + benchmark once per source state. Returns the JVM
    options that select the classpath and the class-data-sharing archive."""
    stamp, opts_file = BUILD / "stamp", BUILD / "jvm-options"
    fp = fingerprint()
    if opts_file.exists() and stamp.exists() and stamp.read_text() == fp:
        return opts_file.read_text().split("\n")
    shutil.rmtree(BUILD, ignore_errors=True)
    BUILD.mkdir(parents=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark with sbt")
    t = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(proc.stderr[-4000:])
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    # Class-data sharing maps classes only from jars, so the two compiled
    # class directories are packed into jars of their own.
    cp = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        if Path(entry).is_dir():
            jar = BUILD / f"classes{i}.jar"
            with zipfile.ZipFile(jar, "w") as z:
                for f in sorted(Path(entry).rglob("*")):
                    z.write(f, f.relative_to(entry).as_posix())
            entry = str(jar)
        cp.append(entry)
    jvm = ["-cp", os.pathsep.join(cp)]
    # One training run of every workload's set-up and warm-up records the
    # classes they load; each benchmark JVM then maps them instead of
    # loading and verifying them again.
    archive = BUILD / "classes.jsa"
    train = BUILD / "train"
    rc = run_jvm(jvm + [f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:disable", "-Xlog:all=error"],
                 ["train", 0, 0, 0, train, ROOT], train)
    shutil.rmtree(train, ignore_errors=True)
    if rc != 0 or not archive.exists():
        raise SystemExit("training run for the class-data-sharing archive failed")
    jvm.append(f"-XX:SharedArchiveFile={archive}")
    log(f"built in {time.time() - t:.0f} s")
    opts_file.write_text("\n".join(jvm))
    stamp.write_text(fp)
    return jvm


def run_jvm(jvm, args, run_dir):
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    env = dict(os.environ,
               SPARK_GRAFT_SCRATCH=str(run_dir / "scratch"),
               SPARK_GRAFT_LOCAL_DIR=str(run_dir / "spark-local"))
    # C1 only: a benchmark JVM lives well under a minute on four cores, so
    # C2 compiles for its whole life and competes with the task threads;
    # C1-compiled code reaches its plateau within a few seconds.
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dderby.system.home={run_dir}", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + jvm + ["perfbench.Main"] + [str(a) for a in args])
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)

    def stop(signum, frame):
        proc.kill()
        proc.wait()
        raise SystemExit(f"stopped by signal {signum}")

    previous = signal.signal(signal.SIGTERM, stop)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        signal.signal(signal.SIGTERM, previous)
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def oracle_failures(run_dir):
    """Registry rows whose output differs from the DuckDB oracle, by
    running the repository's own compare tool read-only."""
    tool = ROOT / "tools" / "verify_local.py"
    proc = subprocess.run(
        [sys.executable, str(tool), str(run_dir / "oracle"), str(run_dir / "fixture")],
        capture_output=True, text=True, timeout=120, stdin=subprocess.DEVNULL)
    sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-2000:])
    failed = re.findall(r"^FAIL (\S+?):", proc.stdout, re.M)
    summary = re.search(r"(\d+) passed, (\d+) failed", proc.stdout)
    want = len(json.loads((run_dir / "oracle" / "oracle_sql.json").read_text()))
    if not summary or int(summary.group(1)) + int(summary.group(2)) != want:
        failed.append("oracle compare did not check every row")
    return failed


def main():
    if not ((ROOT / "build.sbt").exists() and (ROOT / "src" / "main" / "scala").is_dir()):
        raise SystemExit(f"{ROOT} is not a checkout of the engine (no build.sbt/src)")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jvm = build()
    run_dir = ROOT / ".bench_build" / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    rc = run_jvm(jvm, [a.workload, a.seed, a.seconds, a.trace, run_dir, ROOT], run_dir)
    result_file = run_dir / "result.json"
    if rc != 0 or not result_file.exists():
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    res = json.loads(result_file.read_text())

    if (run_dir / "oracle" / "oracle_sql.json").exists():
        for name in oracle_failures(run_dir):
            n = res["kinds"].get(name, {}).get("n", 0)
            res["failed"] += n
            res["failed_by_kind"][name] = res["failed_by_kind"].get(name, 0) + n
            res["errors"].append(f"oracle mismatch: {name}")
            if name not in res["kinds"]:
                res["failed"] += 1
    attempted, failed = res["attempted"], res["failed"]
    res["extras"]["failed_frac"]["value"] = failed / max(1, attempted)

    if a.trace:
        metrics = {}
        for m in spec["per_layer"]:
            v = res["per_layer"].get(m["name"])
            # 0 marks a layer this workload does not exercise
            metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    else:
        metrics = {m["name"]: {"value": res["end_to_end"][m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = failed == 0 and all(
        isinstance(v["value"], (int, float)) for v in metrics.values())

    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds:g}  trace {a.trace}  "
          f"unit {res['unit']}")
    shown = dict(metrics)
    if not a.trace:
        shown.update(res["extras"])
    for name, v in shown.items():
        print(f"  {name:<44} {v['value']!s:>22} {v['unit']}")
    for kind, s in res["kinds"].items():
        print(f"  op {kind:<28} n={s['n']:<4} p25={s['p25_ms']:.1f} "
              f"p50={s['p50_ms']:.1f} p75={s['p75_ms']:.1f} ms")
    for e in res["errors"]:
        print(f"  ERROR {e}")
    if a.trace:
        print(f"  spans: {run_dir / 'trace.json'}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    for sub in ("inbox", "inbox-warm", "store", "fixture", "oracle", "tmp", "scratch", "spark-local", "warehouse"):
        shutil.rmtree(run_dir / sub, ignore_errors=True)
    for p in run_dir.glob("stream-*"):
        shutil.rmtree(p, ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
