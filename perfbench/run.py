#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first run builds the
engine and the harness from source with sbt (offline) into the checkout's
own target directories and caches the launch line under .bench_build/; later
runs reuse it while the sources are unchanged.

Each run generates its corpus from --seed (gen.py), launches the harness JVM
(src/main/scala/perfbench/Harness.scala) at local[N], N = CPU count, and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics. --trace 1 runs the session with the
benchmark's SparkListener and QueryExecutionListener installed, writes the
span tree and the per-layer record under .bench_build/traces/<workload>-seed<N>/
and reports the per-layer metrics. When the same checkout already ran the
seed untraced, the record also carries the tracing overhead: traced minus
untraced end-to-end metrics.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

# Both workloads open with a timed bulk index. serve then splits the measured
# seconds between the in-process retrieve phase and the REST phase; ingest
# spends them on graft + read-after-write cycles.
WORKLOADS = {
    "serve": {"dim": 64, "shares": (4, 1)},
    "ingest": {"dim": 1024, "shares": (1,)},
}
# Lowest per-question recall@5 of GraphRag.retrieve (RagConfig(finalTopK = 5),
# default NER, the serve embedder) by question kind, over all 240 questions of
# seeds 11, 12 and 31-34 on the engine this benchmark was written against.
# Every question a serve run answers in-process must reach its kind's floor.
# Direct questions always found their passage. At dim 64 a hash collision
# can tie unrelated relations with the gold ones, so that engine missed every
# gold passage of some bridge and three-hop questions (2 of 48 and 3 of 64 in
# seeds 31-34): their floor is 0, and the graph path's recall is reported
# (stderr, checked-*.json) but not gated per run.
RECALL_FLOOR = {"direct": 1.0, "bridge": 0.0, "three": 0.0}
RUN_LIMIT_S = 170
# Per-layer metrics: medians per op of the workload's primary op (retrieve
# for serve, graft for ingest), the record of its request phase (REST for
# serve, graft for ingest), and workload-level timed calls.
OP_LAYER = {
    "catalyst.sql_execs": "count", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.job_busy_ms": "ms", "scheduler.driver_gap_ms": "ms",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.task_skew": "ratio",
}
PHASE_LAYER = {"scheduler.concurrent_jobs_max": "count", "scheduler.busy_share": "share"}
WORKLOAD_LAYER = {
    "functions.embed_into_ms": "ms", "sources.save_ms": "ms",
    "sources.files_rewritten": "count", "sources.bytes_rewritten": "bytes",
    "sources.cached_tables": "count", "sources.cached_mb": "MB",
    "rag.subgraph_relations": "count", "rag.eviction_share": "share",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every input to the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_logged(cmd, log, deadline, **kw):
    """Run `cmd` in its own process group with output to `log`; kill the
    whole group and fail if it is still running at `deadline`."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True, **kw)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{cmd[0]} timed out; see {log}")


def launchable(launch):
    """The classpath's directories still exist (a clean removes them)."""
    with open(launch) as f:
        cp = f.readline().strip().split(os.pathsep)
    return all(os.path.exists(p) for p in cp if not p.endswith(".jar"))


def build():
    """Compile engine + harness once per source tree; return the launch line."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} at {ROOT}: run from the root of a checkout of the repository")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    launch = os.path.join(BUILD, f"launch-{source_hash()}.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(launch) or not launchable(launch):
            env = dict(os.environ, COURSIER_MODE="offline")
            os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
            env["SBT_OPTS"] = (os.environ.get("SBT_OPTS") or
                               "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                               ) + f" -Djava.io.tmpdir={BUILD}/tmp"
            log = os.path.join(BUILD, "build.log")
            rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             f"writeLaunch {launch}.tmp"], log, time.time() + 850,
                            cwd=HERE, env=env)
            if rc != 0 or not os.path.exists(launch + ".tmp"):
                fail(f"build failed (sbt exit {rc}); see {log}")
            os.replace(launch + ".tmp", launch)
    with open(launch) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:], os.path.basename(launch)[7:-4]


def launch_harness(cp, jvm_opts, workload, corpus, seconds, traced, run_dir, deadline):
    """Run the harness JVM on `corpus`; the program sees docs and questions only."""
    w = WORKLOADS[workload]
    os.makedirs(run_dir, exist_ok=True)
    inp = os.path.join(run_dir, "input.json")
    with open(inp, "w") as f:
        json.dump({"docs": corpus["docs"],
                   "questions": [q["question"] for q in corpus["questions"]],
                   "grafts": [{"docs": g["docs"], "question": g["question"]}
                              for g in corpus["grafts"]]}, f)
    work = os.path.join(run_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(run_dir, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cpus = os.cpu_count() or 4
    cmd = (["java"] + jvm_opts +
           ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Harness",
            "--workload", workload, "--input", inp, "--out", out, "--work", work,
            "--seconds", str(seconds), "--trace", "1" if traced else "0",
            "--cpus", str(cpus), "--dim", str(w["dim"]),
            "--shares", ",".join(str(s) for s in w["shares"])])
    if traced:
        cmd += ["--spans", os.path.join(run_dir, "spans.json")]
    log = os.path.join(run_dir, "harness.log")
    rc = run_logged(cmd, log, deadline)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        fail(f"{workload}: harness exited {rc}; see {log}")
    with open(out) as f:
        return json.load(f)


def check(corpus, res):
    """Correctness checks against the generator's gold; returns the failure
    messages and the recall@5 of the in-process answers (serve)."""
    bad = []
    recall = None
    if "retrieve_answers" in res:
        kinds = {q["question"]: q for q in corpus["questions"]}
        inproc = {a["question"]: a["ids"] for a in res["retrieve_answers"]}
        rec = []
        for q, ids in inproc.items():
            gold, kind = kinds[q]["gold"], kinds[q]["kind"]
            rec.append(len(set(gold) & set(ids[:5])) / len(gold))
            if rec[-1] < RECALL_FLOOR[kind]:
                bad.append(f"recall@5 {rec[-1]:.3f} below the {kind} floor: {q}")
        if not rec:
            bad.append("no question answered in-process")
        recall = sum(rec) / max(1, len(rec))
        # every REST answer equals the in-process answer id for id
        for a in res["rest_answers"]:
            if a["status"] == 200 and a["ids"] != inproc.get(a["question"]):
                bad.append(f"REST answer differs from GraphRag.retrieve: {a['question']}")
    # each read-after-write question returns its grafted passage
    for g, a in zip(corpus["grafts"], res.get("read_after_write_answers", [])):
        if a["ok"] and not set(g["gold"]) <= set(a["ids"]):
            bad.append(f"read-after-write missed {g['gold']}: {a['question']}")
    # final row counts equal what the generator implies
    want = corpus["expected_stats_after_grafts"][res.get("grafts_applied", 0)]
    if res.get("stats") != want:
        bad.append(f"stats {res.get('stats')} != expected {want}")
    return bad, recall


def layer_metrics(res):
    lay = res["layers"]
    op = lay.get(lay["primary_op"], {})
    m = {}
    for name, unit in OP_LAYER.items():
        m[name] = {"value": op.get(name, 0.0), "unit": unit}
    for name, unit in PHASE_LAYER.items():
        m[name] = {"value": lay.get("request_phase", {}).get(name, 0.0), "unit": unit}
    for name, unit in WORKLOAD_LAYER.items():
        m[name] = {"value": lay.get("workload", {}).get(name, 0.0), "unit": unit}
    return m


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp, jvm_opts, tag = build()
    deadline = time.time() + RUN_LIMIT_S
    name = f"{a.workload}-seed{a.seed}"
    corpus = gen.generate(a.seed, a.workload)

    def measured(traced, run_dir):
        res = launch_harness(cp, jvm_opts, a.workload, corpus, a.seconds, traced, run_dir,
                             deadline)
        bad, recall = check(corpus, res)
        res["failures"] = res["errors"] + bad
        res["recall_at_5"] = recall
        with open(os.path.join(run_dir, f"checked-{tag}.json"), "w") as f:
            json.dump(res, f)
        return res

    plain_dir = os.path.join(BUILD, "runs", name)
    if not a.trace:
        res = measured(False, plain_dir)
    else:
        tdir = os.path.join(BUILD, "traces", name)
        traced = measured(True, tdir)
        record = {"workload": a.workload, "seed": a.seed, "layers": traced["layers"],
                  "metrics": layer_metrics(traced)}
        # The tracing overhead compares with the untraced run of the same seed
        # when this build of this checkout made one; a traced run never pays
        # for a second, untraced session.
        cached = os.path.join(plain_dir, f"checked-{tag}.json")
        if os.path.exists(cached):
            with open(cached) as f:
                plain = json.load(f)
            record["overhead"] = {
                k: {"untraced": v["value"], "traced": traced["metrics"][k]["value"],
                    "delta": traced["metrics"][k]["value"] - v["value"], "unit": v["unit"]}
                for k, v in plain["metrics"].items()}
        with open(os.path.join(tdir, "layers.json"), "w") as f:
            json.dump(record, f, indent=1)
        res = dict(traced, metrics=record["metrics"])
    for msg in res["failures"]:
        print(f"perfbench: {msg}", file=sys.stderr)
    print(f"perfbench: {name} trace={a.trace} {time.time() - t_start:.1f} s, "
          f"recall@5 {res['recall_at_5']}, samples "
          f"{ {k: len(v) for k, v in res['samples_ms'].items()} }", file=sys.stderr)
    print(json.dumps({"correct": not res["failures"], "attempted": res["attempted"],
                      "failed": len(res["failures"]), "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
