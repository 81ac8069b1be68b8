#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload medallion_sql --seed 1 --seconds 5 --trace 0

Builds the program and the harness from source on first use (sbt,
offline), then runs one fresh JVM for one workload and prints, as the
last stdout line, one JSON object with keys correct, attempted, failed
and metrics: the end-to-end metrics with --trace 0, the per-layer ones
with --trace 1. Every metric is also printed on its own line with its
unit and sample count. A run writes only under perfbench/out (the
build's classpath and the run's own directory, deleted at the end) and
perfbench/results (one detail file per workload, seed and trace flag).

Exit codes: 0 when every output matched the manifest, 1 on a mismatch,
a failed query, a SessionMemo build after the cold pass, a file left
behind, a timeout or a harness error, 2 when the program's sources or
the workload are missing.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = HERE / "workloads.json"
MANIFEST = HERE / "manifest.json"
BUILD = HERE / "out" / "build"
RESULTS = HERE / "results"
RUN_LIMIT_S = 165  # a run must end within 180 s, build excluded; keep margin for cleanup

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(code, msg):
    log(msg)
    sys.exit(code)


def program_present():
    return (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file()


def source_stamp():
    """Hash of everything the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_home_from_path():
    """The first spark-submit on the PATH that sits in a Spark install with
    a jars directory (a pip-installed pyspark shim does not)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        if submit.is_file():
            home = submit.resolve().parent.parent
            if (home / "jars").is_dir():
                return str(home)
    die(2, "neither SPARK_HOME nor a spark-submit on the PATH names a Spark install")


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home_from_path()
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building the program and the harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, stdin=subprocess.DEVNULL)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(1, "sbt build failed")
    cps = [l.strip() for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        die(1, "sbt did not print the runtime classpath")
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return cps[-1]


def git_commit():
    """The commit of the checkout when it is itself a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or Path(lines[0]).resolve() != ROOT:
        return "unknown (not a git work tree)"
    return lines[1]


def sf_dir(spec):
    return os.path.expanduser(spec["sf_dir"])


def cpus():
    return len(os.sched_getaffinity(0))


def dir_mb(path):
    if not path.exists():
        return 0.0
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / 1048576.0


def harness(spec, run_dir, *args):
    """Main class and arguments of the harness JVM."""
    return ["perfbench.Main", "--spec", str(SPEC), "--sf", sf_dir(spec),
            "--run-dir", str(run_dir), "--cpus", str(cpus()), *args]


def run_jvm(spec, classpath, run_dir, main_args, limit_s):
    """Run main_args (a main class and its arguments) in a JVM in run_dir;
    return (exit code, stdout lines), or (None, []) on a timeout."""
    heap = spec["heap"]
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{heap}", f"-Xms{heap}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dgraft.stream.tmp={run_dir / 'stream'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", classpath, *main_args]
    # program knobs and host-level Spark dirs must not redirect a run
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")
           and k not in ("SPARK_CONF_DIR", "SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, []
    return proc.returncode, out.splitlines()


def make_run_dir():
    run_dir = HERE / "out" / f"run_{os.getpid()}_{time.time_ns()}"
    for sub in ("tmp", "stream", "warehouse"):
        (run_dir / sub).mkdir(parents=True)
    return run_dir


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not program_present():
        die(2, f"program sources not found under {ROOT / 'src'}; run from a full checkout")
    spec = json.loads(SPEC.read_text())
    if a.workload not in spec["workloads"]:
        die(2, f"unknown workload {a.workload!r}; have {sorted(spec['workloads'])}")
    if not Path(sf_dir(spec)).is_dir():
        die(2, f"test data {sf_dir(spec)} not found")
    classpath = build()

    run_dir = make_run_dir()
    try:
        code, lines = run_jvm(spec, classpath, run_dir, harness(
            spec, run_dir, "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--manifest", str(MANIFEST)), RUN_LIMIT_S)
        # whatever the drains and sinks left after the JVM's own cleanup
        tmp_left_mb = dir_mb(run_dir / "stream")
        strays = sorted(p.name for p in run_dir.iterdir()
                        if p.name not in ("tmp", "stream", "warehouse"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code is None:
        die(1, f"run exceeded {RUN_LIMIT_S} s and was killed")
    if code != 0 or not lines:
        die(1, f"harness exited with code {code}")
    res = json.loads(lines[-1])

    layer = res["layer"]
    if a.trace:
        layer["streaming.tmp_left_mb"] = {"value": tmp_left_mb, "unit": "MiB", "n": 1}
    metrics = layer if a.trace else res["e2e"]
    detail = res["detail"]
    detail["provenance"] = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": cpus(), "sf_dir": sf_dir(spec), "heap": f"-Xms{spec['heap']} -Xmx{spec['heap']}",
        "spark_version": detail.pop("spark_version"), "git_commit": git_commit(),
        "source_sha256": source_stamp(),
        "session_conf": {k: v.replace("$cpus", str(cpus())) for k, v in spec["session_conf"].items()},
        "stream_root": str(run_dir / "stream"), "stream_root_ram_backed": False,
        "stray_files_in_workdir": strays, "java": shutil.which("java"),
    }
    detail["e2e"], detail["layer"] = res["e2e"], layer
    RESULTS.mkdir(exist_ok=True)
    (RESULTS / f"{a.workload}_seed{a.seed}_trace{a.trace}.json").write_text(
        json.dumps(detail, indent=1) + "\n")

    warm_memo_builds = detail["warm_memo_builds"]
    correct = res["failed"] == 0 and not strays and tmp_left_mb == 0 and warm_memo_builds == 0
    prov = detail["provenance"]
    print(f"provenance: commit={prov['git_commit']} nproc={prov['nproc']} sf={prov['sf_dir']} "
          f"spark={prov['spark_version']} heap='{prov['heap']}' seed={a.seed} "
          f"stream_root={prov['stream_root']} (deleted)")
    print(f"outputs: attempted={res['attempted']} failed={res['failed']} "
          f"fail_frac={res['failed'] / max(res['attempted'], 1):.4f} "
          f"stream_tmp_left={tmp_left_mb:.3f} MiB stray_files={strays} "
          f"warm_memo_builds={warm_memo_builds}")
    tail = detail["query_tail"]
    if tail["value"] is None:
        print(f"query_tail: not reported; {tail['n']} warm samples leave fewer than "
              f"{tail['min_beyond']} beyond the median")
    else:
        print(f"query_tail: {tail['percentile']} = {tail['value']:.6g} s (n={tail['n']})")
    for f in detail["failures"]:
        print(f"  failed: {f}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
