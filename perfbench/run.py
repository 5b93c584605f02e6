#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload relational|curation|lake \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and
the harness with sbt (offline) and later runs reuse that build while
the sources are unchanged. Each run generates the workload's inputs
from the seed, runs the harness JVM (graft's javaOptions, `local[4]`),
checks the outputs, prints every metric as a bare `workload name unit
value` line, writes the full record to
`perfbench/.work/<workload>-s<seed>-t<trace>/record.json`, and ends
with one JSON line: `{"correct", "attempted", "failed", "metrics"}`.
With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones (see perfbench/README.md).
"""
import argparse
import collections
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("relational", "curation", "lake")
# Set-ups per run (session + one untimed pass; setup_s is their median)
# and the fewest timed passes a run measures, whatever --seconds says.
SETUPS = 3
MIN_PASSES = 3
MIN_TRACED_PASSES = 4
# The JVM's heap, passed to graft's build (its javaOptions read it).
DRIVER_MEM = "2g"
# The harness JVM's time limit, counted from the end of the build.
DEADLINE_S = 160


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256(DRIVER_MEM.encode())
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _usable(entry):
    """A classpath jar exists; a classes directory still holds classes."""
    if not os.path.isdir(entry):
        return os.path.isfile(entry)
    return any(n.endswith(".class") for _, _, names in os.walk(entry) for n in names)


def read_launch(path):
    """(classpath, jvm flags) from the build's launch.txt, or None when
    it is missing or names a classpath entry that is gone or emptied
    (a clean)."""
    if not os.path.exists(path):
        return None
    cp, jvm = None, []
    for line in open(path).read().splitlines():
        key, _, val = line.partition("=")
        if key == "classpath":
            cp = val
        elif key == "jvm":
            jvm.append(val)
    if not cp or not all(_usable(p) for p in cp.split(os.pathsep)):
        return None
    return cp, jvm


def build():
    """(java command prefix) for the harness, building it when stale."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt / src/main/scala/graft)")
    digest = sources_digest()
    stamp = os.path.join(BUILD, "stamp")
    launch = os.path.join(BUILD, "launch.txt")
    if not (read_launch(launch) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=DRIVER_MEM)
        repos = os.path.expanduser("~/.sbt/repositories")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else ""))
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                               cwd=HARNESS, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=800)
        if r.returncode != 0:
            fail(f"build failed, see {os.path.join(BUILD, 'build.log')}")
        shutil.copy(os.path.join(HARNESS, "target", "launch.txt"), launch)
        with open(stamp, "w") as f:
            f.write(digest)
    cp, jvm = read_launch(launch) or fail("the build left no usable launch.txt")
    java = shutil.which("java") or fail("no java on PATH")
    return [java, *jvm, "-cp", cp]


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def pass_layers(samples, spans):
    """Per traced pass: the layer self times and engine totals (seconds,
    counts, MB), and per op the layer split of each traced sample."""
    jobs = collections.defaultdict(list)
    stage_job = {}
    for s in spans:
        if s["kind"] == "job":
            jobs[s["group"]].append(s)
            for st in s["stages"]:
                stage_job[st] = s["group"]
    stages = collections.defaultdict(list)
    for s in spans:
        if s["kind"] == "stage" and s["stage"] in stage_job:
            stages[stage_job[s["stage"]]].append(s)
    traced = [s for s in samples if s["kind"] == "timed" and s["traced"]]
    # each query execution belongs to the one op its first phase started in
    windows = [[smp["start"], smp["end"]] for smp in traced]
    qes = collections.defaultdict(list)
    for q in spans:
        if q["kind"] == "qe" and q["phases"]:
            i = stats.owner(min(p[0] for p in q["phases"].values()), windows)
            if i is not None:
                qes[i].append(q["phases"])
    per_pass = collections.defaultdict(collections.Counter)
    per_op = collections.defaultdict(list)
    for i, smp in enumerate(traced):
        s, ce, e = smp["start"], smp["compose_end"], smp["end"]
        my_jobs = jobs.get(smp["id"], [])
        job_iv = [[j["start"], j["end"]] for j in my_jobs]
        # planning phases: every query execution in the op, plus the
        # analysis of the returned frame, which ran inside compose
        phases = list(qes[i])
        if smp.get("analysis"):
            phases.append({"analysis": smp["analysis"]})
        phase_iv = [p for ph in phases for p in ph.values()]
        split = stats.layer_split([s, e], ce, job_iv, phase_iv)
        c = per_pass[smp["pass"]]
        c["api.compose_s"] += (ce - s) / 1e3
        c["api.compose_jobs"] += sum(1 for j in my_jobs
                                     if stats.owner(j["start"], [[s, ce], [ce, e]]) == 0)
        c["api.self_s"] += split["compose"] / 1e3
        c["plans.self_s"] += split["plans"] / 1e3
        c["exec.wall_s"] += split["exec"] / 1e3
        c["exec.driver_s"] += split["driver"] / 1e3
        c["unattributed_s"] += split["unattributed"] / 1e3
        for ph in phases:
            for name, key in (("analysis", "plans.analysis_s"),
                              ("optimization", "plans.optimize_s"),
                              ("planning", "plans.planning_s")):
                if name in ph:
                    a, b = ph[name]
                    c[key] += (b - a) / 1e3
        c["exec.jobs"] += len(my_jobs)
        for st in stages.get(smp["id"], []):
            c["exec.stages"] += 1
            c["exec.tasks"] += st["tasks"]
            c["exec.single_task_stages"] += st["num_tasks"] == 1
            c["exec.task_s"] += st["task_ms"] / 1e3
            c["exec.gc_s"] += st["gc_ms"] / 1e3
            c["exec.shuffle_write_mb"] += st["shuffle_write_bytes"] / 2 ** 20
            c["exec.spill_mb"] += st["spill_bytes"] / 2 ** 20
            c["sources.scan_rows"] += st["in_rows"]
            c["sources.scan_mb"] += st["in_bytes"] / 2 ** 20
            c["sources.files_written"] += st["files_written"]
            c["sources.bytes_written_mb"] += st["out_bytes"] / 2 ** 20
        per_op[smp["op"]].append({k: v / 1e3 for k, v in split.items()})
    return per_pass, per_op


PER_LAYER = [
    ("api.compose_s", "s"), ("api.compose_jobs", "count"), ("api.self_s", "s"),
    ("plans.analysis_s", "s"), ("plans.optimize_s", "s"), ("plans.planning_s", "s"),
    ("plans.self_s", "s"),
    ("exec.wall_s", "s"), ("exec.task_s", "s"), ("exec.core_busy", "ratio"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.single_task_stages", "count"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.gc_s", "s"), ("exec.driver_s", "s"),
    ("sources.scan_rows", "count"), ("sources.scan_mb", "MB"),
    ("sources.files_written", "count"), ("sources.bytes_written_mb", "MB"),
    ("sources.rewritten_ratio", "ratio"),
    ("unattributed_s", "s"), ("memo.first_pass_s", "s"), ("setup.cold_s", "s"),
    ("setup.session_s", "s"), ("trace.overhead_s", "s"),
]
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_geomean_s", "s"),
              ("live_heap_mb", "MB"), ("space_amp", "ratio")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    t_build = time.monotonic()
    java = build()
    t_start = time.monotonic()
    run_dir = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out, work = (os.path.join(run_dir, d) for d in ("data", "out", "work"))
    inputs = gen.generate(a.workload, a.seed, data)
    t_gen = time.monotonic()
    input_bytes = sum(f["bytes"] for f in inputs["files"].values())

    min_passes = MIN_TRACED_PASSES if a.trace else MIN_PASSES
    # the JVM's temporary files (Spark's local dirs among them) stay in the run dir
    cmd = java + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "graftbench.Main",
                  "--workload", a.workload, "--data", data, "--work", work, "--out", out,
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--setups", str(SETUPS), "--min-passes", str(min_passes)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness JVM timed out, see {run_dir}/jvm.log", 1)
    if rc != 0:
        fail(f"harness JVM exited {rc}, see {run_dir}/jvm.log", 1)

    t_jvm = time.monotonic()
    run = json.load(open(os.path.join(out, "run.json")))
    samples = read_jsonl(os.path.join(out, "samples.jsonl"))
    passes = read_jsonl(os.path.join(out, "passes.jsonl"))
    timed = [s for s in samples if s["kind"] == "timed"]
    timed_passes = [p for p in passes if p["kind"] == "timed"]

    # correctness: exceptions in timed passes, then the output check
    if a.workload == "lake":
        mismatch = check.lake(data, out, inputs["lake"], run["check"],
                              run["check_facts"].get("consumed_rows"))
    else:
        mismatch = check.queries(data, out, run["check"])
    errors = {s["op"]: s["error"] for s in timed if not s["ok"]}
    failed_ops = dict(errors, **mismatch)
    t_check = time.monotonic()
    attempted = len(timed)
    failed = sum(1 for s in timed if s["op"] in failed_ops)

    walls = collections.defaultdict(list)
    for s in timed:
        walls[s["op"]].append((s["end"] - s["start"]) / 1e3)
    op_walls = [w for ws in walls.values() for w in ws]

    def pass_wall(p):
        return (p["end"] - p["start"]) / 1e3

    untraced = [pass_wall(p) for p in timed_passes if not p["traced"]]
    traced = [pass_wall(p) for p in timed_passes if p["traced"]]
    if a.workload == "lake":
        space_amp = stats.median([p["space_amp"] for p in timed_passes])
    else:
        space_amp = sum(os.path.getsize(os.path.join(d, f))
                        for d, _, fs in os.walk(data) for f in fs) / input_bytes
    p90 = stats.supported_percentile(op_walls, 90)
    end_to_end = {
        "setup_s": stats.median(run["setup_s"]),
        "pass_s": stats.median(untraced),
        "op_geomean_s": stats.geomean([stats.median(ws) for ws in walls.values()]),
        "live_heap_mb": run["live_heap_mb"],
        "space_amp": space_amp,
    }

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": run["cores"],
        "inputs": inputs, "setup_s": run["setup_s"], "session_s": run["session_s"],
        "passes": {"timed": len(timed_passes), "untraced_s": untraced, "traced_s": traced},
        "samples": len(op_walls), "op_p50_s": stats.median(op_walls), "op_p90_s": p90,
        "failed_ratio": failed / attempted if attempted else None,
        "failed_ops": failed_ops,
        "ops": {op: {"median_s": stats.median(ws), "n": len(ws)} for op, ws in walls.items()},
        "end_to_end": end_to_end,
        "harness_s": {"build": t_start - t_build, "gen": t_gen - t_start, "jvm": t_jvm - t_gen,
                      "check": t_check - t_jvm},
    }

    if a.trace:
        spans = read_jsonl(os.path.join(out, "spans.jsonl"))
        per_pass, per_op = pass_layers(samples, spans)
        for p in timed_passes:
            if p["traced"]:
                c = per_pass[p["pass"]]
                # gaps between operations: the loop itself
                spans_ = [[s["start"], s["end"]] for s in timed if s["pass"] == p["pass"]]
                c["unattributed_s"] += stats.unattributed_gap(p["start"], p["ops_end"], spans_) / 1e3
                c["exec.core_busy"] = (c["exec.task_s"] / (c["exec.wall_s"] * run["cores"])
                                       if c["exec.wall_s"] else 0.0)
                if a.workload == "lake":
                    done = p["rewritten"] + p["carried"]
                    c["sources.rewritten_ratio"] = p["rewritten"] / done if done else 0.0
        traced_ids = [p["pass"] for p in timed_passes if p["traced"]]
        per_layer = {name: stats.median([per_pass[i][name] for i in traced_ids])
                     for name, _ in PER_LAYER
                     if name not in ("memo.first_pass_s", "setup.cold_s", "setup.session_s",
                                     "trace.overhead_s")}
        per_layer["memo.first_pass_s"] = run["first_pass_s"]
        per_layer["setup.cold_s"] = run["setup_s"][0]
        per_layer["setup.session_s"] = stats.median(run["session_s"])
        per_layer["trace.overhead_s"] = stats.median(traced) - stats.median(untraced)
        record["per_layer"] = per_layer
        record["op_layers"] = {op: {k: stats.median([x[k] for x in xs]) for k in xs[0]}
                               for op, xs in per_op.items()}
        metrics, units = per_layer, dict(PER_LAYER)
    else:
        metrics, units = end_to_end, dict(END_TO_END)

    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for d in (data, work):
        shutil.rmtree(d, ignore_errors=True)

    w = a.workload
    for name, val in sorted(metrics.items()):
        print(f"{w} {name} {units[name]} {val:.6g}")
    for op, r in sorted(record["ops"].items()):
        print(f"{w} op.{op}_s s {r['median_s']:.6g}")
        if a.trace and op in record["op_layers"]:
            parts = " ".join(f"{k}={v:.4g}" for k, v in record["op_layers"][op].items())
            print(f"{w} layers.{op} s {parts}")
    print(f"{w} failed_ratio ratio {record['failed_ratio']:.6g}")
    print(f"{w} samples count {len(op_walls)}")
    print(f"{w} op_p50_s s {record['op_p50_s']:.6g}")
    print(f"{w} op_p90_s s " + ("unsupported" if p90 is None else f"{p90:.6g}"))
    for op, why in sorted(failed_ops.items()):
        print(f"{w} failed {op}: {why}")
    print(json.dumps({
        "correct": not failed_ops, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
