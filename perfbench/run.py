#!/usr/bin/env python3
"""Replication benchmark: snapshot, pgoutput CDC and redis PSYNC drains
through the program's production task paths.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_pg_zipf --seed 1 --seconds 10 --trace 0

Builds the program and the bench from source (sbt, offline) on first use,
generates the seed's inputs, runs one JVM that drains the workload for
`--seconds`, checks every drain's output, and prints one JSON result as the
last line of stdout. `--trace 1` reports per-layer metrics instead of the
end-to-end ones. Exits non-zero without a result if anything fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ("snapshot_sf05", "cdc_pg_zipf", "redis_psync")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# program's own build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_home():
    """SPARK_HOME, else the install that `spark-submit` on PATH runs from;
    the program builds and runs against that install's jars."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise RuntimeError("no Spark install found (set SPARK_HOME)")
    return home


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.*"),
                                  recursive=True))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program sources plus the bench (incremental)."""
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building program + bench with sbt (offline)")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    # offline resolution from the local repositories file, as the
    # program's own build is run
    env.setdefault("SBT_OPTS", (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Xmx3g"))
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                   cwd=HERE, env=env, check=True, stdout=sys.stderr,
                   stdin=subprocess.DEVNULL, timeout=840)
    with open(stamp, "w") as fh:
        fh.write(digest)


def snapshot_inputs(seed):
    """The seed's sf0.5 layout of the source pool (the pool is built once
    per checkout)."""
    sys.path.insert(0, HERE)
    import snapdata
    pool = os.path.join(WORK, "data", "pool")
    if not os.path.exists(os.path.join(pool, "digests.json")):
        log("generating the snapshot source pool (once per checkout)")
        snapdata.make_pool(pool, 0.5)
    data = os.path.join(WORK, "data", "snap")
    snapdata.layout(pool, data, seed)
    return data


def host_stamp():
    load = os.getloadavg()[0]
    return {"nproc": os.cpu_count(), "load1": round(load, 2)}


def run_jvm(args, extra):
    run_dir = os.path.join(WORK, "run")
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = (["java", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" +
            os.path.join(HERE, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", run_dir, "--out", out] + extra)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                            env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s")
    if code != 0:
        raise RuntimeError(f"benchmark JVM exited with {code}")
    with open(out) as fh:
        return json.load(fh), run_dir


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("program sources (src/main/scala/graft) not found; "
            "run from the repository root of a full checkout")
        return 2
    stamp = host_stamp()
    build()
    extra = []
    if args.workload == "snapshot_sf05":
        data = snapshot_inputs(args.seed)
        extra = ["--data", data]
    res, run_dir = run_jvm(args, extra)
    attempted, failed = res["attempted"], res["failed"]
    if args.workload == "snapshot_sf05":
        import snapdata
        outs = sorted(glob.glob(os.path.join(run_dir, "snap-out-*")))
        n, bad, notes = snapdata.check(data, outs[-1])
        for note in notes:
            log(f"mismatch {note}")
        attempted += n
        failed += bad
    end = host_stamp()
    info = res.get("info", {})
    info.update({"nproc": stamp["nproc"], "load1_start": stamp["load1"],
                 "load1_end": end["load1"], "workload": args.workload,
                 "seed": args.seed, "trace": args.trace})
    print(json.dumps({"host": info}))
    metrics = res["metrics"]
    ok = failed == 0 and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    shutil.rmtree(os.path.join(run_dir), ignore_errors=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line on any failure
        log(f"error: {e}")
        sys.exit(1)
