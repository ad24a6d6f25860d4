#!/usr/bin/env python3
"""Run the esdbspark benchmark.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark program with sbt (into perfbench/target) and records the runtime
classpath; later runs start a plain JVM. A change to any engine or
benchmark source triggers a rebuild.

The last line of standard output is the result of the run as one JSON
object. With --workload all, every workload runs in turn and a table of
every named metric is printed before a combined result line.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["timeline_reads", "ingest_mutate", "curate_pipeline"]
HEAP = "3g"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(stamp_value):
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = os.path.join(target, "source.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == stamp_value:
                return cp_file
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    # sbt's global state goes under target/ too, so the build writes only
    # inside the checkout
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(target, 'sbt-global')}", "writeClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except FileNotFoundError:
        die("sbt not found on PATH")
    except subprocess.TimeoutExpired:
        die("build timed out")
    if r.returncode != 0 or not os.path.exists(cp_file):
        die(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(stamp_value)
    return cp_file


def commit():
    """HEAD's commit, suffixed "-dirty" when the work tree differs from
    it, or "none" outside a git repository."""
    def git(*args):
        out = subprocess.run(["git", *args], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    try:
        head = git("rev-parse", "HEAD")
        if not head:
            return "none"
        return head + ("-dirty" if git("status", "--porcelain") else "")
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_one(cp, workload, args, source, head):
    work = os.path.join(HERE, "work", f"{workload}-{args.seed}-{os.getpid()}")
    out = os.path.join(HERE, "out")
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--out", out, "--source", source, "--commit", head]
    os.makedirs(work, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"{workload} did not finish within {RUN_TIMEOUT_S}s", 3)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stdout.write(stdout)
        die(f"{workload} exited with {proc.returncode}", 4)
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"engine sources not found under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    stamp_value = source_hash()
    cp_file = build(stamp_value)
    with open(cp_file) as fh:
        cp = fh.read().strip()
    head = commit()

    if args.workload != "all":
        lines = run_one(cp, args.workload, args, stamp_value, head)
        print(lines[-2])
        print(lines[-1])
        return

    results = {}
    for w in WORKLOADS:
        lines = run_one(cp, w, args, stamp_value, head)
        results[w] = (json.loads(lines[-2])["report"], json.loads(lines[-1]))
    for w, (report, _) in results.items():
        print(f"== {w} (seed {args.seed}, {report['attempted']} checked, {report['failed']} failed)")
        for name, m in sorted(report["metrics"].items()):
            if m["value"] is None:
                continue
            extra = ""
            if "percentile" in m:
                extra = f"  (p{m['percentile']:g}"
                extra += f", n={m['n']})" if "n" in m else ")"
            elif "n" in m:
                extra = f"  (n={m['n']})"
            print(f"  {name:28s} {m['value']:>14.6g} {m['unit']}{extra}")
        for name, v in sorted(report["per_layer"].items()):
            print(f"  {name:36s} {v:>14.6g}")
    print(json.dumps({
        "correct": all(r["correct"] for _, r in results.values()),
        "attempted": sum(r["attempted"] for _, r in results.values()),
        "failed": sum(r["failed"] for _, r in results.values()),
        "metrics": {f"{w}.{k}": v for w, (_, r) in results.items() for k, v in r["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
