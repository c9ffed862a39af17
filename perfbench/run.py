#!/usr/bin/env python3
"""End-to-end benchmark of graft's YAML pipelines.

Run from the root of a checkout:

    python3 perfbench/run.py --workload sales_etl --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

The first run in a checkout compiles graft's sources together with the
benchmark harness (perfbench/build.sbt, sbt offline); later runs reuse the
classes while the sources are unchanged. Each run starts one JVM
(graftbench.Main) on local[nproc - 1]. It generates the inputs from the seed,
times `Pipeline.execute`, and checks every output. It prints a report and,
as the last stdout line, one JSON result. With --trace 0 the result holds
the end-to-end metrics of BENCHMARK.json; with --trace 1 it holds the
per-layer metrics. Work files go to .bench_build/perfbench/ and span traces
to .bench_build/perfbench/trace-<workload>-seed<seed>.jsonl.

--smoke runs every workload once on tiny inputs. It asserts that every
named metric is printed with its unit and that every output check ran.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")

# Output checks each workload must run (the smoke mode asserts they did).
CHECKS = {
    "sales_etl": ["reference_aggregate"],
    "event_sessions": ["sessions_per_user", "rows_per_user"],
    "doc_curation": ["digest_stable", "no_blocklisted_ids",
                     "split_in_train_val_test", "chunk_text_nonempty"],
}
RUN_LIMIT_S = 175
# doc_curation is not a BENCHMARK.json workload: one of its runs takes minutes
LIMIT_S = {"doc_curation": 3600}
BUILD_LIMIT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SOURCES, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Runs cmd in its own process group; kills the group past limit_s."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{os.path.basename(cmd[0])} exceeded {limit_s:.0f} s")
    return p.returncode, out


def build():
    """Compiles graft + the harness unless the classes match the sources;
    returns whether it compiled."""
    if not os.path.isdir(os.path.join(PROGRAM_SOURCES, "graft")):
        fail(f"graft sources not found under {os.path.relpath(PROGRAM_SOURCES, ROOT)}")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return False
    if not shutil.which("sbt"):
        fail("sbt not found")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    print("perfbench: compiling graft and the benchmark harness", file=sys.stderr)
    rc, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                        BUILD_LIMIT_S, cwd=BENCH, env=env, stdout=sys.stderr,
                        stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return True


def java_cmd(args, work):
    heap = "4g"
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")])
    # with as many task threads as vCPUs, JIT compiler and GC bursts preempt
    # tasks; capping those helper threads steadies wall times
    jvm = ["-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]
    return (["java", *opts, *jvm, f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
             "-cp", cp, "graftbench.Main",
             "--bench", os.path.relpath(BENCH, ROOT)] + args)


def run_jvm(workload, seed, seconds, trace, smoke, limit_s):
    """Runs one workload; returns (report lines, result dict, checks ran)."""
    work = os.path.join(WORK, f"{workload}-seed{seed}")
    shutil.rmtree(work, ignore_errors=True)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work] + (["--smoke"] if smoke else [])
    try:
        rc, out = run_bounded(java_cmd(args, work), limit_s, cwd=ROOT,
                              stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"{workload}: benchmark JVM exited {rc} without a result")
    checks = next((json.loads(l[len("checks_ran "):]) for l in lines if l.startswith("checks_ran ")), [])
    report = [l for l in lines[:-1] if not l.startswith("checks_ran ")]
    return report, json.loads(lines[-1]), checks


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def select(result, wanted):
    """Keeps exactly the wanted metrics; fails when one is missing or its unit differs."""
    got = result["metrics"]
    for m in wanted:
        if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]:
            fail(f"metric {m['name']} ({m['unit']}) missing from the result")
    return {m["name"]: got[m["name"]] for m in wanted}


def smoke():
    s = spec()
    wanted = s["end_to_end"] + s["per_layer"]
    problems = []
    for w in CHECKS:
        t0 = time.time()
        report, result, ran = run_jvm(w, 7, 1, True, True, LIMIT_S.get(w, 600))
        print("\n".join(report))
        got = result["metrics"]
        problems += [f"{w}: metric {m['name']} ({m['unit']}) not printed"
                     for m in wanted if got.get(m["name"], {}).get("unit") != m["unit"]]
        problems += [f"{w}: check {c} did not run" for c in CHECKS[w] if c not in ran]
        print(f"smoke {w}: {len(got)} metrics, checks {ran}, correct={result['correct']}, "
              f"failed {result['failed']}/{result['attempted']}, {time.time() - t0:.0f} s")
    if problems:
        print("\n".join(problems))
        print("SMOKE FAIL")
        sys.exit(1)
    print("SMOKE PASS")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    t0 = time.time()
    built = build()
    if a.smoke:
        smoke()
        return
    if a.workload not in CHECKS or a.seed is None or not a.seconds:
        fail("need --workload (" + " | ".join(CHECKS) + "), --seed and --seconds")
    # the run that compiles may take longer; every other run ends in 180 s
    limit = RUN_LIMIT_S if built else RUN_LIMIT_S - (time.time() - t0)
    limit = LIMIT_S.get(a.workload, limit)
    report, result, _ = run_jvm(a.workload, a.seed, a.seconds, a.trace == 1, False, limit)
    print("\n".join(report))
    s = spec()
    if a.workload in [w["name"] for w in s["workloads"]]:
        result["metrics"] = select(result, s["per_layer"] if a.trace else s["end_to_end"])
    sys.stdout.flush()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
