"""Benchmark of the Spark-native chess ETL and analytics engine.

    python3 perfbench/run.py --workload board|chess --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
harness from source with sbt (the classpath is cached under `.bench_build`,
keyed by a hash of the sources); every run then generates its inputs from
`--seed`, starts one JVM at `local[<cpus>]`, sets up, measures about
`--seconds` of work, checks the outputs and prints one JSON result as the last
stdout line. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer ones. The full artifact (environment, input manifest, samples,
spans, failures) is written to `.bench_out/`.

Workloads:
  board  the sf-scaled queries of `board_queries.txt`, evaluated
         closed-loop in sorted-name order (noop sink) on seeded
         sf0.01 tables with the fixture tables' schemas and value
         distributions (see gen_tables.py).
  chess  monthly batches of generated Chess.com games through the full
         pipeline: silver, dims, gold merge, warehouse load, views.

`--record 1` (board only) rewrites the expected checksums of the seed's
input variant instead of checking them; use it only when a change is meant
to alter query results.

The process exits 0 when every check passed, 1 when a check failed (the
result is still printed), and 2 without a result when it cannot run.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_chess  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402

BOARD_SF = 0.01
BOARD_VARIANTS = 5          # input variants with committed expected checksums
CHESS_GAMES = 500
CHESS_USER = "Rhythmbear1"
# a work unit (one board pass, or one monthly chess batch) takes about this
# long on a 4-cpu host; a run measures round(--seconds / UNIT_S) units. The
# count depends on `--seconds` alone, so every side of a comparison does the
# same work.
UNIT_S = 10.0
SETUP_REPEATS = 3           # input generations per run (median reported)
# fixed, pre-touched heap: peak RSS then moves with off-heap and native
# memory only. Without pre-touching it follows when the collector happened
# to grow the heap (IQR/median 0.34 over five seeds of chess on 4 cpus).
HEAP = "2g"
RUN_DEADLINE_S = 170        # whole run, build excluded
BUILD_TIMEOUT_S = 840

# per-layer metric prefixes each workload exercises; the others read 0
LAYERS = {"board": ("build.", "exec.", "family.", "spark.", "trace."),
          "chess": ("silver.", "bronze.", "dims.", "fact.", "warehouse.", "views.",
                    "games_per_s", "spark.", "trace.")}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of everything the build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in tops:
        files = [top] if os.path.isfile(top) else []
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += sorted(os.path.join(d, f) for f in fs)
        for p in files:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, root).encode() + b"\0")
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def sbt_env(build_dir):
    tmp = os.path.join(build_dir, "tmp")
    # every JVM the sbt launcher starts keeps its scratch files in the build dir
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root):
    """Compile program + harness if the sources changed; return the classpath."""
    build_dir = os.path.join(root, ".bench_build")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp(root)
    try:
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp.strip()
    except (OSError, ValueError):
        pass
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    code = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       HERE, sbt_env(build_dir), log, BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    # `export` prints the classpath as the last line that is not a log line
    cp = next((l for l in reversed(lines) if not l.startswith("[")), None)
    if code != 0 or cp is None:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed ({code}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def generate(workload, seed, units, data):
    """Generate the inputs SETUP_REPEATS times; return (manifest, seconds)."""
    times = []
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        if workload == "board":
            manifest = gen_tables.write(gen_tables.build(seed % BOARD_VARIANTS, BOARD_SF), data)
        else:
            # one set-up month, then one month per timed batch
            manifest = gen_chess.generate(seed, 1 + units, CHESS_GAMES, CHESS_USER, data)
        times.append(time.perf_counter() - t0)
    return manifest, times


def git_sha(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_bounded(cmd, cwd, env, log, timeout):
    """Run cmd with output to log; kill its whole process group if it
    outlives timeout. Returns the exit code, or "timeout"."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return "timeout"


def cpu_steal():
    """(steal, total) CPU jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def run_jvm(cp, work, args, deadline):
    log = os.path.join(work, "jvm.log")
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    code = run_bounded(cmd, work, env, log, max(1.0, deadline - time.monotonic()))
    if code != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM failed ({code})")


def main():
    ap = argparse.ArgumentParser(description="Chess ETL & analytics engine benchmark")
    ap.add_argument("--workload", required=True, choices=["board", "chess"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the repository root: the program's sources are not here")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build(root)
    deadline = time.monotonic() + RUN_DEADLINE_S

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(root, ".bench_work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        n_units = max(1, round(a.seconds / UNIT_S))
        manifest, gen_times = generate(a.workload, a.seed, n_units, data)
        out = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--data", data, "--work", work,
                "--trace", str(a.trace), "--out", out]
        if a.workload == "board":
            expected = os.path.join(HERE, "expected", f"board-{a.seed % BOARD_VARIANTS}.txt")
            args += ["--passes", str(n_units), "--queries", os.path.join(HERE, "board_queries.txt"),
                     "--expected", expected, "--record", str(a.record)]
        else:
            args += ["--games", str(CHESS_GAMES), "--user", CHESS_USER]
        steal0 = cpu_steal()
        run_jvm(cp, work, args, deadline)
        steal1 = cpu_steal()
        with open(out) as f:
            r = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info, samples = r["info"], r["samples"]
    tail_p, tail_v = stats.tail(samples["query_s"])
    if a.trace:
        # per-unit values (one per pass or batch) become their median
        layers = {k: stats.median(v) for k, v in r["layers"].items()}
        values = {m["name"]: layers.get(
            m["name"], None if m["name"].startswith(LAYERS[a.workload]) else 0.0)
            for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": stats.median(gen_times) + info["session_s"] + info["warm_s"],
            # board: each query's best time over the passes, summed (graft.Bench's
            # total); chess: the median batch
            "pass_s": (sum(samples["query_best_s"]) if a.workload == "board"
                       else stats.median(samples["pass_s"])),
            "query_p50_s": stats.median(samples["query_s"]),
            "query_tail_s": tail_v,
            "peak_rss_mb": info["peak_rss_mb"],
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    missing = [k for k in units if values.get(k) is None]
    if missing:
        fail(f"no value measured for {', '.join(missing)}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    attempted, failed = r["attempted"], r["failed"]
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_sha": git_sha(root), "cpus": info.get("cpus"), "heap_mb": info.get("heap_mb"),
        "spark_version": info.get("spark_version"), "input": manifest,
        "input_generation_s": gen_times, "session_s": info["session_s"],
        "warm_s": info["warm_s"], "query_tail_percentile": tail_p,
        # share of CPU time the hypervisor stole during the run (steal in /proc/stat)
        "cpu_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "failed_frac": stats.failed_frac(attempted, failed),
        "failures": r["failures"], "samples": samples, "layers": r["layers"],
        "spans": info.get("spans"), "metrics": metrics,
    }
    os.makedirs(os.path.join(root, ".bench_out"), exist_ok=True)
    with open(os.path.join(root, ".bench_out", tag + ".json"), "w") as f:
        json.dump(artifact, f, indent=1)
    for msg in r["failures"]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(f"query_tail_s is p{tail_p:g} of {len(samples['query_s'])} query samples; "
          f"failed_frac {artifact['failed_frac']:.4f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
