#!/usr/bin/env python3
"""Build the engine from source and run one benchmark workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The engine (src/main) and the harness
(perfbench/src) are compiled with the Scala compiler that ships in the
Spark distribution's jars directory ($SPARK_HOME/jars, or the one next
to `spark-submit` on PATH) into .bench_build/, keyed by a hash of their
sources, so only the first run after a source change pays the build.

Each run gets a fresh JVM and its own warehouse, tmpdir, Derby home and
checkpoint root under .bench_work/, removed when the run ends. Span
traces and a provenance record per run are kept in .bench_out/.

The last line of stdout is the result object; the line before it is the
run's provenance (source hash, host, load, fixture, JDK/Spark, seed).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
OUT = ROOT / ".bench_out"
DATA = BENCH / "data"
WORKLOADS = ("enrich_stream", "hybrid_serve")
# A run must end well inside the 180 s a caller allows it.
RUN_TIMEOUT_S = 170
# JDK 17 module opens Spark needs outside spark-submit (as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not jars.is_dir():
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def tree_hash(*dirs):
    h = hashlib.sha256()
    for d in dirs:
        for f in sorted(p for p in d.rglob("*") if p.is_file()):
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def compile_scala(jars, sources_dir, classpath, dest, resources=None):
    """Compile every .scala file under sources_dir into dest, once per
    source hash; concurrent runs wait on a lock instead of racing."""
    if (dest / ".ok").exists():
        return
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (dest / ".ok").exists():
            return
        tmp = dest.with_name(dest.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        srcs = sorted(str(p) for p in sources_dir.rglob("*.scala"))
        compiler = [str(next(jars.glob(f"{n}-2.13*.jar")))
                    for n in ("scala-compiler", "scala-library", "scala-reflect")]
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-nowarn",
               "-d", str(tmp), "-classpath", ":".join(classpath)] + srcs
        t0 = time.time()
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout + r.stderr)
            fail(f"compile of {sources_dir.relative_to(ROOT)} failed")
        if resources and resources.is_dir():
            shutil.copytree(resources, tmp, dirs_exist_ok=True)
        (tmp / ".ok").write_text(f"{time.time() - t0:.1f}\n")
        shutil.rmtree(dest, ignore_errors=True)
        tmp.rename(dest)


def build(jars):
    main_src = ROOT / "src" / "main"
    if not (main_src / "scala").is_dir():
        fail(f"engine sources not found under {main_src.relative_to(ROOT)}")
    spark_cp = sorted(str(p) for p in jars.glob("*.jar"))
    main_key = tree_hash(main_src)
    main = BUILD / f"main-{main_key}"
    compile_scala(jars, main_src / "scala", spark_cp, main,
                  resources=main_src / "resources")
    bench = BUILD / f"bench-{tree_hash(BENCH / 'src')}-{main_key}"
    compile_scala(jars, BENCH / "src", [str(main)] + spark_cp, bench)
    return main_key, [str(bench), str(main), str(jars / "*")]


def meminfo_kb():
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1])
    return 0


def loadavg():
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies since boot: steal is time the hypervisor
    gave this machine's CPUs to someone else."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return (f[7] if len(f) > 7 else 0), sum(f)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for f in ("documents.parquet", "embeddings.parquet"):
        if not (DATA / f).is_file():
            fail(f"fixture {(DATA / f).relative_to(ROOT)} missing")
    jars = spark_jars()
    load0 = loadavg()
    ticks0 = cpu_ticks()
    source_key, classpath = build(jars)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = WORK / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "derby"):
        (work / d).mkdir(parents=True)
    OUT.mkdir(exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dderby.system.home={work / 'derby'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join(classpath), "perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace),
            str(DATA), str(work), str(OUT)]
    t0 = time.time()
    with open(OUT / f"{tag}.stderr", "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)
        # a runner that is stopped stops its JVM and removes the work dir
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log in .bench_out/{tag}.stderr")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(Path(OUT / f"{tag}.stderr").read_text()[-4000:])
        fail(f"run failed (exit {proc.returncode})")
    ticks = cpu_ticks()
    info = json.loads(lines[-2])["info"]
    result = json.loads(lines[-1])

    provenance = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "git_commit": git_commit(), "source_hash": source_key,
        "nproc": os.cpu_count(), "mem_total_kb": meminfo_kb(),
        "loadavg_start": load0, "loadavg_end": loadavg(),
        # the ROADMAP quiet-host gate: loadavg < 0.5 at launch
        "loaded_host": load0[0] >= 0.5,
        # CPU time taken by other tenants of the host while this ran
        "cpu_steal_share": round((ticks[0] - ticks0[0]) / max(1, ticks[1] - ticks0[1]), 4),
        "fixture": {f.name: {"mtime": int(f.stat().st_mtime),
                             "sha256": hashlib.sha256(f.read_bytes()).hexdigest()}
                    for f in sorted(DATA.glob("*.parquet"))},
        "wall_s": round(time.time() - t0, 2),
        "info": info,
    }
    (OUT / f"{tag}.json").write_text(
        json.dumps({"provenance": provenance, "result": result}, indent=1) + "\n")
    print(json.dumps({"provenance": provenance}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
