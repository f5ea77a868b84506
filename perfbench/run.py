#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload pack|platform \
        --seed N --seconds S --trace 0|1

The first run in a checkout builds the repository's sources together with
the benchmark program (sbt, see perfbench/build.sbt); later runs reuse the
build until a source file changes. Each run gets a fresh work directory
(also the JVM's java.io.tmpdir) under perfbench/.work, deleted at exit, so
indexes and tokenized corpora are rebuilt in every run's set-up. Traced
runs keep their span log in perfbench/.traces.

The last line of standard output is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
preceded by a line that records the workload and seed. Exit code 0 only
when a result was printed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
SOURCES = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src"),
           os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project")]
DATA = os.path.join(BENCH, "data")
GOLDEN = os.path.join(BENCH, "golden", "pack_digests.json")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "perfbench.stamp")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for top in SOURCES:
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            for f in sorted(filenames):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
        if os.path.isfile(top):
            st = os.stat(top)
            h.update(f"{top}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamp shows an up-to-date build."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    log("building (sbt compile)")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "benchClasspath"], cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=880)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def java_cmd(work, main_args, heap="3g"):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return ([java] + opens +
            [f"-Xmx{heap}", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, "graft.perfbench.Main"] + main_args)


def run_jvm(cmd, log_path):
    """Run the JVM in its own process group; return its stdout lines."""
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return p.returncode, out.splitlines()


def frame_digest(df):
    """Digest of a result frame under tools/check.py's normalization:
    columns sorted by name, repr of every value, rows in result order."""
    import pandas as pd
    df = df[sorted(df.columns)]
    norm = pd.concat([df[c].map(repr) for c in df.columns], axis=1) \
        if len(df.columns) else df
    h = hashlib.sha256(repr(list(df.columns)).encode())
    for row in norm.itertuples(index=False, name=None):
        h.update(("\x1f".join(row) + "\n").encode())
    return h.hexdigest()


def check_pack(out_dir):
    """Compare each warm-pass result with its golden digest; return the
    number of results checked and the names that mismatched."""
    import pandas as pd
    with open(GOLDEN) as f:
        golden = json.load(f)["digests"]
    root = os.path.join(out_dir, "pack")
    names = sorted(os.listdir(root)) if os.path.isdir(root) else []
    bad = []
    for name in names:
        try:
            got = frame_digest(pd.read_parquet(os.path.join(root, name)))
        except Exception as e:  # an unreadable result is a wrong result
            log(f"pack {name}: unreadable result: {e}")
            got = None
        if got is None or golden.get(name) != got:
            bad.append(name)
    return len(names), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["pack", "platform"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        sys.exit("perfbench: no repository sources next to the benchmark")
    if not os.path.isdir(DATA):
        sys.exit("perfbench: benchmark data missing")
    build()

    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                            dir=os.path.join(BENCH, ".work"))
    try:
        out = os.path.join(work, "out")
        for d in ("tmp", "out"):
            os.makedirs(os.path.join(work, d))
        main_args = ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--data", DATA, "--work", work, "--out", out]
        log_path = os.path.join(work, "jvm.log")
        try:
            code, lines = run_jvm(java_cmd(work, main_args), log_path)
        except subprocess.TimeoutExpired:
            code, lines = -1, []
            log(f"JVM timed out after {JVM_TIMEOUT_S} s")
        if code != 0 or not lines:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.exit(f"perfbench: JVM failed (exit {code})")
        res = json.loads(lines[-1])
        attempted, failed = res["attempted"], res["failed"]
        if args.workload == "pack":
            checked, bad = check_pack(out)
            if bad:
                log(f"pack results differing from the oracle: {bad}")
            attempted += checked
            failed += len(bad)
        if args.trace:
            traces = os.path.join(BENCH, ".traces")
            os.makedirs(traces, exist_ok=True)
            for f in os.listdir(out):
                if f.startswith("spans-"):
                    shutil.move(os.path.join(out, f), os.path.join(traces, f))
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "trace": args.trace,
                          "jvm_attempted": res["attempted"],
                          "jvm_failed": res["failed"]}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": res["metrics"]}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
