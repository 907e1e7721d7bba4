"""The graft benchmark: one command per workload run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs the engine in one JVM
with one long-lived local Spark session, checks every pass, and prints
one JSON result object as the last line of standard output.  With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones; both lists are read from BENCHMARK.json.  See README.md.
"""
import time

T0 = time.time()  # process start, for set-up time

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")

sys.path.insert(0, BENCH)
import gen  # noqa: E402

# Untimed passes before the timed region, per workload: the first passes
# in a fresh JVM pay for class loading, code generation of every plan
# shape they meet and JIT compilation, which goes on for several passes.
WARMUPS = {"bfs_flagship": 5, "graph_and_sql": 4}
# Input generation is repeated this many times per run; set-up counts
# the median, and every repeat must be byte-identical to the first.
GEN_REPEATS = 3
BUILD_TIMEOUT_S = 840
RUN_DEADLINE_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stop_group(p):
    """Kills whatever is left in a child's process group and reaps it."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def source_stamp():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f[len(ROOT):].encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine and harness once per source tree; returns the
    runtime classpath."""
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log_path = os.path.join(OUT, "build.log")
    print("[build] compiling engine and harness (sbt, offline)", flush=True)
    t0 = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            stop_group(p)
    if code != 0 or not os.path.exists(cp_file):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {code}); log in {log_path}", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[build] done in {time.time() - t0:.1f} s", flush=True)
    with open(cp_file) as c:
        return c.read().strip()


def tree_digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(os.path.join(d, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def generate(workload, seed, work):
    """Generates the inputs GEN_REPEATS times; returns (inputs dir,
    properties, per-repeat seconds, whether every repeat was identical)."""
    times, digests, props = [], [], None
    inputs = os.path.join(work, "inputs")
    for k in range(GEN_REPEATS):
        d = inputs if k == 0 else os.path.join(work, f"regen{k}")
        t0 = time.perf_counter()
        p = gen.generate(workload, seed, d)
        times.append(time.perf_counter() - t0)
        digests.append(tree_digest(d))
        props = props or p
        if k > 0:
            shutil.rmtree(d)
    return inputs, props, times, len(set(digests)) == 1


def heap_gb():
    """Half of MemTotal, clamped to 2..8 GiB, as the repository's test
    command sizes the engine's heap."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def run_jvm(cp, args, work, deadline):
    # -Xmn fixes the young generation: with G1 sizing it adaptively,
    # peak RSS split into two clusters ~40% apart from run to run.
    # -Xms = -Xmx: G1 grew the heap at varying points of a run, and peak
    # RSS and CPU per pass spread with it (RSS by 15-23% across seeds).
    # Pages are still touched only as used, so RSS stays a footprint.
    # -UsePerfData: no hsperfdata file outside the checkout.
    cmd = (["java", f"-Xms{heap_gb()}g", f"-Xmx{heap_gb()}g", "-Xmn512m",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    err_path = os.path.join(work, "jvm.err")
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        timed_out = threading.Event()

        def kill():
            timed_out.set()
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

        watchdog = threading.Timer(max(1.0, deadline - time.time()), kill)
        watchdog.start()
        try:
            for line in p.stdout:
                print(line.rstrip("\n"), flush=True)
            code = p.wait()
        finally:
            watchdog.cancel()
            stop_group(p)
    if code != 0 or timed_out.is_set():
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("engine run " + ("timed out" if timed_out.is_set() else f"exited with {code}"), 1)


def main():
    # a terminated run still stops its JVM (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft engine sources next to {BENCH}; run from a full checkout")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json is missing")
    with open(spec_path) as f:
        spec = json.load(f)

    t_build = time.time()
    cp = build()
    started = time.time()
    build_s = started - t_build
    work = os.path.join(OUT, f"work-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs, props, gen_times, deterministic = generate(a.workload, a.seed, work)
        print(f"[setup] {a.workload} seed {a.seed}: {json.dumps(props)}", flush=True)
        if not deterministic:
            print("[error] input generation is not deterministic for this seed", flush=True)
        # half the cores run tasks, the other half the driver thread, JIT
        # and GC: at this input size a pass is bound by per-job driver
        # work, and with more task slots their contention made passes no
        # faster and less steady
        cpus = max(1, min(4, os.cpu_count() or 1) // 2)
        run_jvm(cp, ["--workload", a.workload, "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--inputs", inputs, "--work", work,
                     "--bench", BENCH, "--cpus", str(cpus),
                     "--warmups", str(WARMUPS[a.workload])],
                work, started + RUN_DEADLINE_S)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        res.update(seed=a.seed, inputs=props, gen_s=gen_times)
        with open(os.path.join(OUT, "runs", tag + ".json"), "w") as f:
            json.dump(res, f, indent=1)
        if a.trace:
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(OUT, "runs", tag + ".spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    passes = res["passes"]
    failed = sum(1 for p in passes if p["error"])
    correct = deterministic and failed == 0 and not any(p["error"] for p in res["warmups"])
    # set-up counts one (median) input generation, not all the repeats,
    # and not the one-time build
    setup_s = (res["setup_end_ms"] / 1e3 - T0 - build_s
               - (sum(gen_times) - statistics.median(gen_times)))
    walls = [p["wall_s"] for p in passes]
    print(f"[passes] n={len(walls)} wall_s={[round(w, 3) for w in walls]} warm-up wall_s="
          f"{[round(p['wall_s'], 3) for p in res['warmups']]}", flush=True)
    print(f"error_rate {failed / len(passes):.4f} ({failed} of {len(passes)} passes)", flush=True)

    if a.trace:
        layers = res.get("layers", {})
        metrics = {m["name"]: {"value": layers.get(m["name"], {}).get("median", 0.0),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        values = {"setup_s": setup_s, "pass_p50_s": statistics.median(walls),
                  "pass_cpu_s": statistics.median(p["cpu_s"] for p in passes),
                  "peak_rss_mb": res["peak_rss_mb"]}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for k, v in metrics.items():
        spread = res.get("layers", {}).get(k)
        extra = f" (min {spread['min']}, max {spread['max']}, n {spread['n']})" if spread else ""
        print(f"{k} {v['value']} {v['unit']}{extra}", flush=True)
    print(json.dumps({"correct": correct, "attempted": len(passes), "failed": failed,
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
