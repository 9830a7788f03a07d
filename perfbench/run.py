#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads, every output
checked.

    python3 perfbench/run.py --workload pipeline|sql_logs \\
        --seed N --seconds S --trace 0|1

Builds the library and the harness from source with sbt when they changed
(perfbench/target/launch.stamp), runs the harness JVM on local[4] pinned to
four cores, and prints a report with every metric by name and unit. The
last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics. See perfbench/DEFINITION.md.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics as m  # noqa: E402

TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("pipeline", "sql_logs")
CORES = 4
# a run ends within 180 s (the first one within 900 s, with the build):
# the harness JVMs of one run share this budget, counted after the build
RUN_BUDGET_S = 165
BUILD_TIMEOUT_S = 600
LAYERS = ("gen", "render", "parse", "enrich", "route")
# any integer seed is accepted; its residue picks the input offset, which
# keeps every generated sequence id within the 12 digits of a doc_id
INPUT_SEEDS = 1000000

# (name, unit) of every metric, in BENCHMARK.json order
END_TO_END = [("setup_s", "s"), ("latency_p50_s", "s"),
              ("throughput_per_s", "1/s"), ("mem_peak_mb", "MB")]
PER_LAYER = (
    [("latency_tail_s", "s"), ("latency_samples", "count"),
     ("op_error_ratio", "ratio")]
    + [(f"{layer}.s", "s") for layer in LAYERS]
    + [("trace.layer_sum_residual", "ratio"), ("trace.overhead_ratio", "ratio"),
       ("pipeline.scaling_eff", "ratio"),
       ("route.shuffle_write_mb", "MB"), ("route.shuffle_read_mb", "MB"),
       ("route.spill_mb", "MB"), ("route.fetch_wait_s", "s"),
       ("route.max_task_over_median", "ratio"),
       ("parse.lines_in", "count"), ("parse.rows_matched", "count"),
       ("parse.match_ratio", "ratio"), ("agg.task_s", "s"),
       ("sql.frontend_s", "s"), ("sql.plan_s", "s"), ("sql.exec_s", "s"),
       ("follow.latency_p50_s", "s"), ("follow.trigger_s", "s"), ("follow.plan_s", "s"),
       ("follow.getbatch_s", "s"), ("follow.addbatch_s", "s"), ("follow.state_mb", "MB"),
       ("follow.rows_per_batch", "count"), ("loadgen.late_s_max", "s"),
       ("stage.busy_s", "s"), ("stage.cpu_s", "s"), ("stage.sched_delay_s", "s"),
       ("task.failed", "count"), ("stage.utilization", "ratio"), ("jvm.gc_s", "s")])

# what the generic end-to-end names mean on each workload
ALIASES = {
    "pipeline": {"latency_p50_s": "pipeline.pass_p50_s", "throughput_per_s": "pipeline.seq_per_s"},
    "sql_logs": {"latency_p50_s": "sql.latency_p50_s", "throughput_per_s": "sql.lines_per_s"},
}


class Refusal(Exception):
    """A condition the benchmark cannot measure: no result is printed."""

    def __init__(self, code, message):
        super().__init__(message)
        self.code = code


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def meminfo():
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0])
    return out


def cpu_times():
    """The host's cumulative CPU times (the `cpu` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before, after):
    """Share of host CPU time the hypervisor took between two samples."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d)) if len(d) > 7 else 0.0


def heap_gb(mem_total_kb):
    """The heap rule of the repository's test command (SPARK_DRIVER_MEM):
    half of MemTotal, clamped to 2..8 GB."""
    return min(8, max(2, mem_total_kb // 2097152))


def input_seed(seed):
    """The input offset of a seed: its residue modulo INPUT_SEEDS, so a
    negative or very large seed gives valid, reproducible inputs."""
    return seed % INPUT_SEEDS


def host_context(seed):
    info = meminfo()
    cpus = sorted(os.sched_getaffinity(0))
    return {"nproc": len(cpus), "cpus": cpus, "kernel": platform.release(),
            "mem_total_kb": info["MemTotal"], "mem_available_kb": info.get("MemAvailable", 0),
            "seed": seed, "input_seed": input_seed(seed)}


def log_tail(path, lines=40):
    """The last lines of a harness log that are not Spark INFO chatter."""
    try:
        with open(path, errors="replace") as f:
            kept = [line.rstrip() for line in f if " INFO " not in line]
    except OSError:
        return ""
    return "\n".join(kept[-lines:])


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(TARGET, "launch.stamp")
    stamp = source_stamp()
    launch = [os.path.join(TARGET, n) for n in ("launch-classpath.txt", "launch-jvm-options.txt")]
    if all(map(os.path.exists, launch + [stamp_file])):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return
    log("perfbench: building the library and the harness with sbt")
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.log"), "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                                cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            raise Refusal(4, f"build failed: {e}")
    if rc != 0:
        raise Refusal(4, f"build failed (exit {rc}); see {os.path.join(TARGET, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def java_command(heap, work):
    with open(os.path.join(TARGET, "launch-classpath.txt")) as f:
        cp = [line.strip() for line in f if line.strip()]
    with open(os.path.join(TARGET, "launch-jvm-options.txt")) as f:
        opts = [line.strip() for line in f if line.strip()]
    opts = [o for o in opts if not o.startswith(("-Xms", "-Xmx"))]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return ([java, f"-Xms{heap}g", f"-Xmx{heap}g", f"-Djava.io.tmpdir={work}", "-XX:-UsePerfData"] + opts
            + ["-cp", os.pathsep.join(cp), "perfbench.Main"])


def run_jvm(cmd, cpus, log_path, timeout, pin_to=None):
    """Runs the harness pinned to `cpus`; returns its raw result. With
    `pin_to`, every thread of the JVM is moved to those cpus when the
    harness prints PERFBENCH_PIN, and the harness is told on stdin."""
    deadline = time.monotonic() + timeout
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.PIPE, text=True,
                                preexec_fn=lambda: os.sched_setaffinity(0, cpus))
        killer = threading.Timer(timeout, proc.kill)
        killer.start()
        try:
            lines = []
            for line in proc.stdout:
                if line.strip() == "PERFBENCH_PIN" and pin_to is not None:
                    for tid in os.listdir(f"/proc/{proc.pid}/task"):
                        try:
                            os.sched_setaffinity(int(tid), pin_to)
                        except ProcessLookupError:
                            pass  # a thread that ended meanwhile
                    proc.stdin.write("pinned\n")
                    proc.stdin.flush()
                else:
                    lines.append(line)
            proc.wait()
        finally:
            killer.cancel()
            if proc.poll() is None:  # interrupted: stop the JVM before leaving
                proc.kill()
                proc.wait()
    if time.monotonic() > deadline:
        raise Refusal(5, f"harness exceeded {timeout:.0f} s; see {log_path}\n{log_tail(log_path)}")
    raw = [line[len("PERFBENCH_RAW "):] for line in lines if line.startswith("PERFBENCH_RAW ")]
    if proc.returncode != 0 or not raw:
        raise Refusal(5, f"harness failed (exit {proc.returncode}); see {log_path}\n{log_tail(log_path)}")
    return json.loads(raw[-1])


def end_to_end(raw):
    return {
        "setup_s": m.median(raw["setup_s"]),
        "latency_p50_s": m.median(raw["latency_s"]),
        "throughput_per_s": raw["work_units"] / raw["work_seconds"],
        "mem_peak_mb": max(raw["heap_after_gc_mb"]),
    }


def per_layer(raw, host, level1):
    """Per-layer metrics of a traced run; a layer the workload does not
    run reads 0."""
    out = {name: 0.0 for name, _ in PER_LAYER}
    ops = raw["ops"]
    lat = raw["latency_s"]
    tail = m.tail_percentile(lat)
    if tail:
        out["latency_tail_s"] = tail[1]
    out["latency_samples"] = len(lat)
    out["op_error_ratio"] = m.error_ratio(ops["attempted"], ops["failed"] + ops["wrong"])
    untraced = None
    if raw["workload"] == "pipeline":
        untraced = m.median(lat)
        cuts = [(layer, m.median(raw["cuts_s"][layer])) for layer in LAYERS]
        selves = m.self_times(cuts)
        for layer, s in selves:
            out[f"{layer}.s"] = s
        out["trace.layer_sum_residual"] = m.layer_sum_residual(selves, untraced)
        out["trace.overhead_ratio"] = m.overhead(cuts[-1][1], untraced)
        for k, v in raw["route"].items():
            out[f"route.{k}"] = m.median(v)
        if level1 is not None:
            out["pipeline.scaling_eff"] = m.scaling_efficiency(m.median(level1["level1_s"]), untraced, CORES)
    else:
        walls = raw["mix_wall_s"]
        out["trace.overhead_ratio"] = m.overhead(m.median(walls["traced"]), m.median(walls["untraced"]))
        for k, v in raw["sql"].items():
            out[f"sql.{k}"] = v
        out["agg.task_s"] = raw["agg"]["task_s"]
        # the follow phase of the traced run
        out["follow.latency_p50_s"] = m.median(raw["follow_latency_s"])
        for k, v in raw["follow"].items():
            out[f"follow.{k}"] = v
    if "loadgen" in raw:
        out["loadgen.late_s_max"] = raw["loadgen"]["late_s_max"]
    parse = raw.get("parse", {})
    out["parse.lines_in"] = parse.get("lines_in", 0)
    out["parse.rows_matched"] = parse.get("rows_matched", 0)
    if out["parse.lines_in"]:
        out["parse.match_ratio"] = out["parse.rows_matched"] / out["parse.lines_in"]
    stage = raw["stage"]
    out["stage.busy_s"] = stage["busy_s"]
    out["stage.cpu_s"] = stage["cpu_s"]
    out["stage.sched_delay_s"] = stage["sched_delay_s"]
    out["task.failed"] = stage["failed"]
    out["stage.utilization"] = stage["busy_s"] / (stage["wall_s"] * CORES)
    out["jvm.gc_s"] = raw["gc_s"]
    if host["nproc"] < CORES:
        del out["pipeline.scaling_eff"]
    return out


def report(workload, host, raw, metrics, units, trace, level1):
    alias = ALIASES[workload]
    ctx = dict(host, jdk=raw["jvm"]["jdk"], spark=raw["jvm"]["spark"],
               heap_mb=raw["jvm"]["max_heap_mb"], workload=workload, trace=trace)
    print("host: " + " ".join(f"{k}={v}" for k, v in ctx.items() if k != "cpus"))
    print("config: " + json.dumps(raw["config"], sort_keys=True))
    if "follow_config" in raw:
        print("follow config: " + json.dumps(raw["follow_config"], sort_keys=True))
    for name, value in metrics.items():
        shown = f"{name} ({alias[name]})" if name in alias else name
        print(f"{shown} = {value:.6g} {units[name]}")
    tail = m.tail_percentile(raw["latency_s"])
    n = len(raw["latency_s"])
    print(f"latency samples = {n}; " + (f"p{tail[0]} = {tail[1]:.6g} s" if tail else
                                        "no tail percentile: fewer than 11 samples"))
    if trace and workload == "pipeline":
        if "pipeline.scaling_eff" in metrics:
            print(f"scaling: T(1 core) / ({CORES} * T({CORES} cores)), "
                  f"T(1 core) = {m.median(level1['level1_s']):.4g} s (GC {level1['level1_gc_s']:.3g} s), "
                  f"T({CORES} cores) = {m.median(raw['latency_s']):.4g} s")
        else:
            print(f"pipeline.scaling_eff refused: nproc={host['nproc']} < {CORES}")
        res = metrics["trace.layer_sum_residual"]
        print(f"layer-sum check: self times vs untraced wall, residual {res:+.3f} "
              f"({'within' if abs(res) <= 0.10 else 'OUTSIDE'} 10%)")
    if trace:
        for name, s in sorted(m.span_self_times(raw["spans"]).items()):
            print(f"span self time {name} = {s:.6g} s")
    for c in raw["ops"]["checks"]:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED ' + c['detail'][:500]}")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        raise Refusal(2, f"library sources not found next to the benchmark (under {ROOT})")
    host = host_context(args.seed)
    heap = heap_gb(host["mem_total_kb"])
    if host["mem_available_kb"] < (heap + 1) * 1048576:
        raise Refusal(3, f"available memory {host['mem_available_kb']} kB cannot hold "
                         f"a {heap} GB heap plus 1 GB")
    build()
    deadline = time.monotonic() + RUN_BUDGET_S

    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cmd = java_command(heap, work)
        cpus = host["cpus"][:CORES]
        stat0 = cpu_times()
        raw = run_jvm(cmd + ["--workload", args.workload, "--seed", str(host["input_seed"]),
                             "--seconds", str(args.seconds), "--trace", str(args.trace),
                             "--work", work],
                      cpus, os.path.join(WORK, f"{args.workload}-jvm.log"), deadline - time.monotonic())
        # stolen time slows every timing; it is reported, not corrected for
        host["steal_pct"] = round(steal_pct(stat0, cpu_times()), 2)
        level1 = None
        if args.trace and args.workload == "pipeline" and host["nproc"] >= CORES:
            shutil.rmtree(work)
            os.makedirs(work)
            level1 = run_jvm(cmd + ["--workload", "pipeline", "--seed", str(host["input_seed"]),
                                    "--work", work, "--level1"],
                             cpus, os.path.join(WORK, "pipeline-level1-jvm.log"),
                             deadline - time.monotonic(), pin_to=cpus[:1])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(WORK, f"raw-{args.workload}.json"), "w") as f:
        json.dump(raw, f)
    if raw.get("loadgen", {}).get("behind"):
        raise Refusal(6, f"load generator fell behind schedule by "
                         f"{raw['loadgen']['late_s_max']:.3f} s; latencies not reported")
    if args.trace:
        metrics = per_layer(raw, host, level1)
        units = dict(PER_LAYER)
        with open(os.path.join(WORK, f"spans-{args.workload}.json"), "w") as f:
            json.dump(raw["spans"], f)
    else:
        metrics = end_to_end(raw)
        units = dict(END_TO_END)
    report(args.workload, host, raw, metrics, units, args.trace, level1)
    ops = raw["ops"]
    failed = ops["failed"] + ops["wrong"]
    result = {"correct": failed == 0 and all(c["ok"] for c in ops["checks"]),
              "attempted": ops["attempted"], "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps({"host": host, "jvm": raw["jvm"], "workload": args.workload,
                            "trace": args.trace, "result": result}) + "\n")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    # SIGTERM unwinds like an exception, so a running harness JVM is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main(sys.argv[1:]))
    except Refusal as r:
        log(f"perfbench: {r}")
        sys.exit(r.code)
