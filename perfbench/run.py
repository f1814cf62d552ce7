#!/usr/bin/env python3
"""Benchmark of the graft engine: the extract pipeline, the query engine
and its durable logs. See perfbench/README.md for the workloads and metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all        # every workload, named report

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The raw result,
and for a traced run its ledger and spans, are written to perfbench/out/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
FIXTURE = os.path.join(HERE, "fixtures", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "query_mix.tsv")
WORKLOADS = ["query_mix", "extract_sharded", "durable_logs"]
JVM_TIMEOUT_S = 170  # a run must end within 180 s
RECORD_TIMEOUT_S = 3600

END_TO_END = [("op_p50_ms", "ms"), ("op_tail_ms", "ms"), ("setup_s", "s")]

# name, unit, better; per measured unit of work (see README.md)
PER_LAYER = [
    ("tables.schema_jobs", "count", "lower"), ("tables.schema_ms", "ms", "lower"),
    ("operators.build_ms", "ms", "lower"), ("operators.build_jobs", "count", "lower"),
    ("plans.derivation_rdds", "count", "lower"), ("plans.orphan_drop_ms", "ms", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"), ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("exec.sink_ms", "ms", "lower"), ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"), ("exec.tasks", "count", "lower"),
    ("exec.tasks_per_stage", "ratio", "higher"), ("exec.task_run_ms", "ms", "lower"),
    ("exec.task_cpu_ms", "ms", "lower"), ("exec.gc_ms", "ms", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"), ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"), ("exec.failed_tasks", "count", "lower"),
    ("exec.parallelism", "ratio", "higher"),
    ("extract.bounds_ms", "ms", "lower"), ("extract.fetch_ms", "ms", "lower"),
    ("extract.write_ms", "ms", "lower"), ("extract.partitions", "count", "higher"),
    ("extract.files", "count", "lower"), ("extract.rows_per_file", "count", "higher"),
    ("extract.bytes_written", "bytes", "lower"),
    ("curation.jobs", "count", "lower"), ("curation.stages_computed", "count", "lower"),
    ("curation.frontier_files", "count", "lower"), ("curation.frontier_bytes", "bytes", "lower"),
    ("ivf.construct_ms", "ms", "lower"), ("ivf.append_ms", "ms", "lower"),
    ("ivf.compact_ms", "ms", "lower"), ("ivf.restore_ms", "ms", "lower"),
    ("ivf.search_ms", "ms", "lower"), ("ivf.log_files", "count", "lower"),
    ("ivf.log_bytes", "bytes", "lower"), ("ivf.rebuilds", "count", "lower"),
    ("session.create_ms", "ms", "lower"), ("harness.overhead_ms", "ms", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
] + [(f"{layer}.self_ms", "ms", "lower") for layer in
     ["session", "tables", "operators", "plans", "catalyst", "exec", "extract", "curation",
      "ivf", "harness", "trace"]]




def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit():
    try:
        done = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10)
        return done.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def jvm_command(build_dir, work, args, out):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = [build.java(), "-XX:-UsePerfData", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
            f"-Dspark.local.dir={work}/spark", f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.path.join(build_dir, "classes") + os.pathsep +
            os.path.join(build.spark_jars(), "*"),
            "graft.perfbench.Main", "--work", work, "--fixture", FIXTURE,
            "--expected", EXPECTED, "--out", out] + args
    return cmd


def run_jvm(build_dir, args, tag, result=True, timeout=JVM_TIMEOUT_S):
    """Runs Main in a fresh work dir that is deleted afterwards; returns
    the parsed result (when `result`), or raises RuntimeError with the
    log's tail."""
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    for d in ("tmp", "derby", "spark"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    out = os.path.join(work, "result.json")
    log = os.path.join(OUT, f"{tag}.log")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(jvm_command(build_dir, work, args, out), stdout=fh,
                                    stderr=subprocess.STDOUT, env=env, cwd=work,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:
                # also when this script is itself interrupted or terminated
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
        if code != 0 or (result and not os.path.exists(out)):
            with open(log) as fh:
                tail = "".join(fh.readlines()[-30:])
            raise RuntimeError(f"benchmark JVM ended with {code}; log {log}:\n{tail}")
        if result:
            with open(out) as fh:
                return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def op_samples(res):
    return [o["ms"] for o in res["ops"] if o["op"] == res["op"]]


def end_to_end(res):
    ops = op_samples(res)
    if not ops:
        raise RuntimeError(f"{res['workload']}: no {res['op']} succeeded: {res['failures']}")
    pct, value, beyond = stats.tail(ops)
    return {
        "op_p50_ms": stats.median(ops),
        "op_tail_ms": value,
        "setup_s": stats.median(res["setup_s"]),
    }, {"op": res["op"], "samples": len(ops), "tail_percentile": round(pct, 1),
        "tail_beyond": beyond}


def named_report(res, e2e):
    """The workload's own metrics, by the names README.md gives them, as
    {name: (value, unit)}: each sample series the JVM named, as its median,
    and the shared ones."""
    out = {name: (stats.median(spec["samples"]), spec["unit"])
           for name, spec in res["named"].items()}
    if res["workload"] == "query_mix":
        out.update(query_p50_ms=(e2e["op_p50_ms"], "ms"), query_tail_ms=(e2e["op_tail_ms"], "ms"))
    out.update(failed_ratio=(res["failed_ratio"], "ratio"), setup_s=(e2e["setup_s"], "s"))
    return out


def run_one(build_dir, digest, workload, seed, seconds, trace):
    tag = f"{workload}-seed{seed}-trace{trace}"
    res = run_jvm(build_dir, ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", str(trace)], tag)
    res["env"].update(commit=commit(), source_hash=digest)
    res["failed_ratio"] = res["failed"] / max(1, res["attempted"])
    # the raw result, with a traced run's ledger and spans, stays in out/
    with open(os.path.join(OUT, f"{tag}.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    return res


def main():
    # a terminated run unwinds, so its JVM is stopped and its work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="re-record query_mix's expected results on the fixture")
    a = ap.parse_args()
    if not a.workload and not a.record_expected:
        ap.error("--workload is required")
    try:
        build_dir, digest = build.build()
    except build.BuildError as e:
        print(f"[perfbench] cannot build: {e}", file=sys.stderr)
        return 2
    if a.record_expected:
        run_jvm(build_dir, ["--record-expected", EXPECTED], "record-expected", result=False,
                timeout=RECORD_TIMEOUT_S)
        print(f"recorded {EXPECTED}")
        return 0
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    metrics = {}
    try:
        results = [run_one(build_dir, digest, w, a.seed, a.seconds, a.trace) for w in workloads]
        if not a.trace:
            e2e = [end_to_end(res) for res in results]
    except RuntimeError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 1
    for i, res in enumerate(results):
        for f in res["failures"]:
            print(f"failure {res['workload']}: {f}")
        env = res["env"]
        print(f"env {res['workload']}: nproc={env['nproc']} load={env['loadavg_start']} -> "
              f"{env['loadavg_end']} java={env['java']} spark={env['spark']} "
              f"commit={env['commit'] or env['source_hash']}")
        if a.trace:
            values = res["per_layer"]
            units = {n: u for n, u, _ in PER_LAYER}
        else:
            values, info = e2e[i]
            units = dict(END_TO_END)
            print(f"info {res['workload']}: {json.dumps(info)}")
            for k, (v, unit) in sorted(named_report(res, values).items()):
                print(f"report {res['workload']} {k} {v:.6g} {unit}")
        prefix = "" if len(results) == 1 else res["workload"] + "."
        metrics.update({prefix + k: {"value": v, "unit": units[k]} for k, v in values.items()})
    print(json.dumps({
        "correct": all(r["failed"] == 0 for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
