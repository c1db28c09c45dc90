"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the checkout root. Builds graft and the harness from source on
first use (see build.py), runs the measurement JVM, turns its raw run
record into the metrics named in BENCHMARK.json and prints them; the last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 1`` reports the
per-layer metrics instead of the end-to-end ones and writes the folded
trace next to the raw record under ``.bench_build/records/``.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("oneshot_weblog", "tail_weblog", "tail_sessions",
             "corpus_dedup")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def jvm_cmd(root, classes, args, run_dir, out):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(root), "*")])
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    return (["java", "-Xmx2g", "-Xms2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
             "-Dspark.ui.enabled=false"] + opens +
            ["-cp", cp, "graftbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--cores", str(args.cores), "--dir", run_dir, "--out", out])


def run_jvm(cmd, log_path):
    """run the measurement JVM in its own process group; it is killed
    on timeout and when this process is terminated"""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(*_):
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            sys.exit(1)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int,
                    default=min(4, os.cpu_count() or 1))
    args = ap.parse_args()
    root = os.getcwd()
    bench_json = os.path.join(root, "BENCHMARK.json")
    with open(bench_json) as f:
        spec = json.load(f)

    classes = build.ensure(root)
    out_dir = build.build_dir(root)
    run_dir = os.path.join(out_dir, "run-%d" % os.getpid())
    rec_dir = os.path.join(out_dir, "records")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(rec_dir, exist_ok=True)
    name = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    raw = os.path.join(rec_dir, name + ".raw.json")
    log = os.path.join(rec_dir, name + ".log")
    if os.path.exists(raw):
        os.remove(raw)
    try:
        code = run_jvm(jvm_cmd(root, classes, args, run_dir, raw), log)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not os.path.exists(raw):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        sys.stderr.write("measurement process failed (exit %s)\n" % code)
        sys.exit(1)
    with open(raw) as f:
        record = json.load(f)

    try:
        result = stats.report(record, spec)
    except ValueError as e:
        for msg in record.get("failures", []):
            sys.stderr.write("FAILED: %s\n" % msg)
        sys.stderr.write("no result: %s\n" % e)
        sys.exit(1)
    for line in result["lines"]:
        print(line)
    if args.trace:
        with open(os.path.join(rec_dir, name + ".layers.json"), "w") as f:
            json.dump(result["layers"], f, indent=1, sort_keys=True)
    print(json.dumps(result["final"], sort_keys=True))


if __name__ == "__main__":
    main()
