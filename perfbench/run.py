#!/usr/bin/env python3
"""graft benchmark: runs one workload and prints one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --all
    python3 perfbench/run.py --smoke

Builds the program from source (see build.py), then runs the workload in
one JVM. With --trace 0 the result holds the end-to-end metrics listed in
BENCHMARK.json, with --trace 1 the per-layer ones. --all runs each workload
of BENCHMARK.json untraced and prints its end-to-end metrics. --smoke runs every
workload on tiny inputs in both modes and checks that each metric of
BENCHMARK.json is printed with its unit and that every output was correct.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the benchmark directory free of build output
import build  # noqa: E402

WORKLOADS = ["analytics", "curation", "graph", "training"]
DEFAULT_SEED = 1  # perfbench.Workloads.DefaultSeed
DEADLINE_S = 170  # a run must end within 180 s, build excluded

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spec():
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        build.fail(f"missing {path}")
    with open(path) as fh:
        return json.load(fh)


def run_jvm(workload, seed, seconds, trace, tiny, deadline):
    """Runs one workload; returns the parsed RESULT object or exits non-zero."""
    classes, jars = build.build()
    work = os.path.join(build.WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # A run is short: hot code is compiled after a quarter of the JVM's
    # usual invocation counts, so measured rounds are past the JIT warm-up.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:CompileThresholdScaling=0.25",
           "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--tiny", "1" if tiny else "0"]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        build.fail(f"{workload} did not finish within {DEADLINE_S} s")
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        else:
            print(line, flush=True)
    if proc.returncode != 0 or result is None:
        build.fail(f"{workload} exited with code {proc.returncode}")
    return result


def select(result, metrics):
    """Keeps the listed metrics; exits non-zero if one is missing or its
    unit differs from BENCHMARK.json."""
    got = result["metrics"]
    out = {}
    for m in metrics:
        v = got.get(m["name"])
        if v is None or v["unit"] != m["unit"] or v["value"] is None:
            build.fail(f"metric {m['name']} missing or not in {m['unit']}: {v}")
        out[m["name"]] = v
    return {"correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"], "metrics": out}


def smoke():
    s = spec()
    bad = []
    for w in WORKLOADS:
        for trace in (False, True):
            res = run_jvm(w, DEFAULT_SEED, 1, trace, True, time.monotonic() + DEADLINE_S)
            sel = select(res, s["per_layer"] if trace else s["end_to_end"])
            ok = res["correct"] and res["metrics"]["output_ok"]["value"] == 1.0
            print(f"smoke {w} trace={int(trace)}: {len(sel['metrics'])} metrics, "
                  f"output_ok={res['metrics']['output_ok']['value']}", flush=True)
            if not ok:
                bad.append(f"{w} trace={int(trace)}")
    if bad:
        build.fail("smoke failed: " + ", ".join(bad))
    print("smoke ok")


def run_all(s, seed, seconds):
    rows = []
    for w in [w["name"] for w in s["workloads"]]:
        res = select(run_jvm(w, seed, seconds, False, False, time.monotonic() + DEADLINE_S),
                     s["end_to_end"])
        rows.append(f"{w:10s} " + "  ".join(f"{k}={v['value']:.4g} {v['unit']}"
                                             for k, v in res["metrics"].items()))
    print("\n".join(rows))


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=4)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        return smoke()
    s = spec()
    if a.all:
        return run_all(s, a.seed, a.seconds)
    if a.workload is None:
        ap.error("--workload, --all or --smoke is required")
    build.build()  # the first run in a checkout builds; the deadline starts after
    res = run_jvm(a.workload, a.seed, a.seconds, a.trace == 1, False,
                  time.monotonic() + DEADLINE_S)
    print(json.dumps(select(res, s["per_layer"] if a.trace else s["end_to_end"])))


if __name__ == "__main__":
    main()
