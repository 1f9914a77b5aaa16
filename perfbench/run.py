"""The pcap->UDM benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source if needed
(``perfbench/build.py``), runs the workload in one JVM, checks the
outputs, and prints as its last stdout line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it names the workload, seed, cpus and source version.
Everything the run measured goes to ``.bench_runs/<run id>.json``, one
file per run. See ``perfbench/README.md``.
"""
import argparse
import datetime
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUNS_DIR = ".bench_runs"
# a run must end within 180 s; the first run of a checkout also builds
RUN_LIMIT_S = 170
JVM_HEAP = "3g"


def git_head(root):
    """HEAD when the root is a git work tree of its own, else None."""
    try:
        top = subprocess.run(["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = top.stdout.split()
    if top.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(root):
        return None
    return lines[1]


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        sys.exit("perfbench: no program sources here (build.sbt, src/main/scala); "
                 "run from the repository root")
    try:
        classes, build_s = build.build(root)
        jars = build.spark_jars(root)
        java = build.java()
    except build.BuildError as e:
        sys.exit("perfbench: %s" % e)

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    run_id = "%s_seed%d_trace%d_%s_%d" % (args.workload, args.seed, args.trace, stamp, os.getpid())
    work = os.path.join(root, build.BUILD_DIR, "work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(work, "result.json")
    detail_path = os.path.join(root, RUNS_DIR, run_id + ".json")
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = ([java, "-Xmx" + JVM_HEAP, "-Xss4m", "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties")]
           + build.JAVA_OPENS
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--result", result_path, "--detail", detail_path])

    # the JVM's stdout joins stderr: stdout carries only this script's lines
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr.fileno())

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=max(10.0, RUN_LIMIT_S + build_s - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = None
    try:
        if rc != 0 or not os.path.isfile(result_path):
            sys.exit("perfbench: run %s %s" % (
                run_id, "timed out" if rc is None else "failed (exit %s)" % rc))
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    head = git_head(root)
    digest = build.source_digest(root)
    with open(detail_path) as f:
        detail = json.load(f)
    detail.update({"run_id": run_id, "git_head": head, "src_digest": digest,
                   "build_s": build_s, "wall_s": time.time() - t_start})
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "cpus": detail["cpus"], "git_head": head, "src_digest": digest,
                      "detail": os.path.relpath(detail_path, root)}, separators=(",", ":")))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": res["metrics"]},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
