#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <serve_read|pipeline_batch>
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program from source (sbt, in
perfbench/), generates the corpus and builds serve_read's indexes.
Later runs reuse the build and the indexes while the hash of their
inputs (graft's sources, the benchmark's sources and build files, the
corpus generator) is unchanged, and the corpus while gen_corpus.py is.
Everything the benchmark writes stays under perfbench/ (.build, .cache,
.run, .out). See perfbench/README.md.
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
BUILD = HERE / ".build"
CACHE = HERE / ".cache"
WORKLOADS = ("serve_read", "pipeline_batch")
# a run must end within 180 s; the first in a checkout, which builds,
# within 900 s
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
BUILD_TIMEOUT_S = 600
HEAP = "2g"
# Spark 4 on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

_children = []


def _stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def _on_signal(signum, _frame):
    _stop_children()
    sys.exit(128 + signum)


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    _stop_children()
    sys.exit(2)


def spawn(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        _stop_children()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    return p.returncode, out


def digest(inputs):
    """Hash of the files under `inputs`, with their paths."""
    h = hashlib.sha256()
    for base in inputs:
        files = sorted(base.rglob("*")) if base.is_dir() else [base]
        for f in files:
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def sources_stamp():
    """Hash of every input of the build and of serve_read's indexes."""
    return digest([ROOT / "src" / "main", HERE / "src" / "main", HERE / "build.sbt",
                   HERE / "project" / "build.properties", HERE / "gen_corpus.py"])


def built(stamp):
    stamp_file = BUILD / "stamp"
    return (BUILD / "classpath.txt").exists() and stamp_file.exists() \
        and stamp_file.read_text() == stamp


def build(stamp):
    """Compiles graft and the benchmark; returns the runtime classpath."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if built(stamp):
        return cp_file.read_text().strip()
    print("[perfbench] building graft and the benchmark", file=sys.stderr)
    code, out = spawn(["sbt", "-batch", "-Dsbt.server.autostart=false",
                       "compile", "export Runtime/fullClasspath"],
                      BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in out.splitlines() if ln and not ln.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def index_dir(stamp):
    """serve_read's index directory for this build; other builds' are removed."""
    d = CACHE / f"serve_indexes-{stamp[:16]}"
    for old in CACHE.glob("serve_indexes*"):
        if old != d:
            shutil.rmtree(old, ignore_errors=True)
    return d


def corpus(scale):
    """The generated corpus at `scale`, made on first use by this gen_corpus.py."""
    d = CACHE / f"sf{scale}-{digest([HERE / 'gen_corpus.py'])[:12]}"
    if not (d / "_done").exists():
        sys.path.insert(0, str(HERE))
        import gen_corpus
        shutil.rmtree(d, ignore_errors=True)
        gen_corpus.generate(str(d), scale)
        (d / "_done").write_text("")
    return d


def java_cmd(classpath, work, args):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [str(java), f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens,
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-cp", classpath, "graftbench.Main", *args]


def run_java(classpath, args, timeout, work=None):
    """Runs graftbench.Main in a fresh work dir, removed afterwards unless
    the caller named it; returns (exit code, stdout)."""
    keep = work is not None
    work = work or HERE / ".run" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    try:
        return spawn(java_cmd(classpath, work, [*args, "--work", str(work / "data")]),
                     timeout, cwd=work, stdout=subprocess.PIPE, text=True, env=env)
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, _on_signal)
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT}: run from a checkout of the repository")
    t0 = time.monotonic()
    stamp = sources_stamp()
    indexes = index_dir(stamp)
    fresh = not built(stamp) or not (indexes / "_built").exists()
    classpath = build(stamp)
    big, small = corpus(0.1), corpus(0.01)
    out_dir = HERE / ".out"
    out_dir.mkdir(exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--corpus", str(big), "--small-corpus", str(small),
            "--expected", str(HERE / "expected_digests.json"), "--indexes", str(indexes)]
    if a.trace == "1":
        args += ["--out", str(out_dir / f"spans-{a.workload}-{a.seed}.jsonl")]
    limit = FIRST_RUN_LIMIT_S if fresh else RUN_LIMIT_S
    code, out = run_java(classpath, args, max(30, limit - (time.monotonic() - t0)))
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if code != 0 or not lines:
        sys.stderr.write(out[-2000:])
        fail(f"benchmark exited {code} without a result")
    result = json.loads(lines[-1])
    print(json.dumps(result))
    sys.exit(0)


if __name__ == "__main__":
    main()
