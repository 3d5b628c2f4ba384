#!/usr/bin/env python3
"""The engine's benchmark: two workloads, timed end to end and layer by
layer from outside the engine, with every output checked.

    python3 perfbench/run.py --workload presto_corpus --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.py) and generates the tables
(perfbench/datagen.py) under .bench_build/. Each run then draws its
statements from --seed, launches one JVM for the workload, checks the
results against DuckDB, prints a report line per metric and, last, one
JSON object: every end-to-end metric with --trace 0, every per-layer
metric with --trace 1. See perfbench/README.md.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import canary  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD
JVM_TIMEOUT_S = 160
HEAP = "3g"


# workload -> nominal seconds of one timed pass on 4 cores
WORKLOADS = {
    "presto_corpus": 16.0,
    "pipelines": 8.5,
}
# every 20th corpus statement is timed; every 40th from index 10 (none of
# them timed) warms the JVM first, so each timed statement runs for the
# first time in the process, as a new statement reaching a warm service
CORPUS_STRIDE, WARM_STRIDE, WARM_OFFSET = 20, 40, 10
# two LLM pipelines whose construction runs eager jobs (ops/), one kernel
# pipeline (functions/) and two stateful streaming entries (StreamingOps).
# An odd count of entries whose warm costs stand apart (on 4 cores v01
# ~0.6 s, d07 ~1.0, st01 ~1.5, st08 ~2.0, d09 ~2.4), so the median sample
# is the middle entry's rather than the mean of two unlike neighbours
LLM_PIPELINES = ["d07_embedding_near_dup", "d09_dup_clusters",
                 "v01_cosine_topk"]
STREAMS = ["st01_tumbling_window", "st08_stream_tdigest"]
SETUPS = 5
# the share of a corpus slice that must match: ReferenceQueriesSpec's
# floor for its 1-in-20 slice, which inherits the adjudicated tail
CORPUS_FLOOR = 0.85


def data_dir(scale):
    d = os.path.join(BUILD, "data", f"sf{scale}")
    datagen.generate(d, scale)
    return d


def java_cmd(classes, *args, tmp):
    cp = os.pathsep.join([classes] + build.spark_classpath())
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m",
             "-XX:-UsePerfData"] + build.JVM_OPENS + [
        "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp] + list(args))


def run_jvm(classes, args, tmp, log):
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as f:
        p = subprocess.Popen(java_cmd(classes, *args, tmp=tmp), stdout=f,
                             stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"harness timed out; see {log}")
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-2000:]
        raise RuntimeError(f"harness exited {rc}; see {log}\n{tail}")


def catalog(classes):
    path = os.path.join(BUILD, "catalog-" + os.path.basename(classes) + ".json")
    if not os.path.exists(path):
        tmp = os.path.join(BUILD, "tmp", "catalog")
        run_jvm(classes, ["perfbench.Harness", "catalog", path + ".part"], tmp,
                os.path.join(BUILD, "catalog.log"))
        os.rename(path + ".part", path)
    with open(path) as f:
        return json.load(f)


# ------------------------------------------------------------ inputs

def seeded_order(items, seed, tag):
    """The same items in an order drawn from the seed."""
    out = list(items)
    random.Random(f"{tag}/{seed}").shuffle(out)
    return out


def plan_for(name, cat, seed, trace, seconds):
    """The JVM plan and, per timed id, its protocol and oracle input.
    Which statements run is fixed by index; the seed draws their order."""
    expect = {}
    if name == "presto_corpus":
        d = data_dir(0.01)
        cases = oracle.load_corpus(os.path.join(
            ROOT, "src/test/resources/reference_queries.tsv"))

        def item(i):
            return {"id": f"c{i:04d}", "kind": "sql", "text": cases[i].sql,
                    "dir": d}
        timed = [item(i) for i in range(0, len(cases), CORPUS_STRIDE)]
        warm = [item(i) for i in range(WARM_OFFSET, len(cases), WARM_STRIDE)]
        for i in range(0, len(cases), CORPUS_STRIDE):
            expect[f"c{i:04d}"] = ("ref", (cases[i], d))
        views, protocol = "tiny", "ref"
    else:
        d, d_stream = data_dir(0.01), data_dir(0.1)
        timed = [{"id": n, "kind": "pipeline", "name": n, "dir": d}
                 for n in LLM_PIPELINES]
        timed += [{"id": n, "kind": "stream", "name": n, "dir": d_stream}
                  for n in STREAMS]
        # twice: one cold pass leaves the JIT still compiling these
        # entries' code, and timed passes then read 20-30% apart
        warm = timed * 2
        for it in timed:
            expect[it["id"]] = ("oc", (cat["oracles"][it["name"]], it["dir"]))
        views, protocol = "standard", "oc"
    passes = max(1, round(seconds / WORKLOADS[name]))
    if trace:
        passes = max(1, passes // 2)
    plan = {"workload": name, "cores": len(os.sched_getaffinity(0)),
            "views": views, "dir": d, "setups": SETUPS, "warmup": warm,
            "passes": passes, "trace": int(trace), "row_cap": oracle.MAX_ROWS,
            "protocol": protocol, "items": seeded_order(timed, seed, name)}
    return plan, expect


# ------------------------------------------------------------ checks

def check(art, expect):
    """(attempted, failures, unchecked) over the first timed result of
    every statement."""
    got = {r["id"]: r for r in art["results"]}
    failures, unchecked = [], []
    for sid, (proto, _) in expect.items():
        r = got.get(sid)
        if r is None:
            failures.append((sid, "no result"))
            continue
        cmp = oracle.check_ref if proto == "ref" else oracle.check_oc
        why = cmp(r, oracle.answer(sid))
        if why == oracle.UNCHECKED:
            unchecked.append(sid)
        elif why:
            failures.append((sid, why))
    return len(expect), failures, unchecked


# ------------------------------------------------------------ metrics

def end_to_end(art):
    untraced = [p for p in art["passes"]
                if not p["traced"] and not p.get("repeat")]
    lats = [s["lat_s"] for p in untraced for s in p["stmts"]]
    by_stmt = {}
    for p in untraced:
        for s in p["stmts"]:
            by_stmt.setdefault(s["id"], []).append(s["lat_s"])
    tail, pct, n = stats.tail(by_stmt)
    return {
        "setup_s": (statistics.median([s["total_s"] for s in art["setups"]]), "s"),
        "wall_s": (statistics.median([p["wall_s"] for p in untraced]), "s"),
        "stmt_p50_s": (statistics.median(lats), "s"),
        "stmt_tail_s": (tail, "s"),
    }, {"stmt_tail_pct": pct, "stmt_tail_n": n}


def per_layer(art, spans):
    L = art["layers"]
    traced = [p for p in art["passes"] if p["traced"]]
    untraced = [p for p in art["passes"] if not p["traced"]]
    T = len(traced)
    stmts = sum(len(p["stmts"]) for p in traced)
    cores = art["cores"]
    dur = {}
    for s in spans:
        dur.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"]) / 1e9)
    total = lambda name: sum(dur.get(name, [])) / T  # noqa: E731
    self_s = L["self_s"]
    stmt_wall = sum(dur.get("stmt", []))
    traced_wall = sum(p["wall_s"] for p in traced)
    m = {
        "dialect.translate_s": (total("dialect.translate"), "s"),
        "dialect.translate_p50_ms": (
            statistics.median(dur.get("dialect.translate", [0.0])) * 1e3, "ms"),
        "engine.sql_s": (total("engine.sql"), "s"),
        "engine.parse_s": (L["tracker_parse_s"] / T, "s"),
        "engine.analysis_s": (L["tracker_analysis_s"] / T, "s"),
        "plans.rule_s": (L["graft_rule_s"] / T, "s"),
        "plans.rule_calls": (L["graft_rule_calls"] / T, "count"),
        "plans.rule_effective_ratio": (
            L["graft_rule_effective"] / max(1.0, L["graft_rule_calls"]), "ratio"),
        "catalyst.rule_s": (L["catalyst_rule_s"] / T, "s"),
        "engine.optimize_s": (total("engine.optimize"), "s"),
        "engine.physical_plan_s": (total("engine.physical_plan"), "s"),
        "exec.jobs_per_stmt": (L["jobs"] / stmts, "count"),
        "exec.stages_per_stmt": (L["stages"] / stmts, "count"),
        "exec.tasks_per_stmt": (L["tasks"] / stmts, "count"),
        "exec.codegen_compiles": (
            art["codegen_compiles"] / len(art["passes"]), "count"),
        "exec.codegen_ms_mean": (art["codegen_ms_mean"], "ms"),
        "exec.sched_delay_s": (L["sched_delay_s"] / T, "s"),
        "exec.task_run_s": (L["task_run_s"] / T, "s"),
        "exec.task_cpu_s": (L["task_cpu_s"] / T, "s"),
        "exec.gc_s": (art["gc_s"] / len(art["passes"]), "s"),
        "exec.input_bytes": (L["input_bytes"] / T, "B"),
        "exec.input_rows": (L["input_rows"] / T, "count"),
        "exec.shuffle_write_bytes": (L["shuffle_write_bytes"] / T, "B"),
        "exec.shuffle_read_bytes": (L["shuffle_read_bytes"] / T, "B"),
        "exec.spill_bytes": (L["spill_bytes"] / T, "B"),
        "exec.busy_ratio": (L["task_run_s"] / max(1e-9, traced_wall * cores),
                            "ratio"),
        "exec.failed_tasks": (L["failed_tasks"], "count"),
        "ops.construct_s": (total("ops.construct"), "s"),
        "ops.eager_jobs": (L["eager_jobs"] / T, "count"),
        "ops.eager_task_s": (L["eager_task_s"] / T, "s"),
        "stream.run_s": (total("stream.run"), "s"),
        "stream.batches": (L["stream_batches"] / T, "count"),
        "stream.input_rows": (L["stream_input_rows"] / T, "count"),
        "stream.trigger_s": (L["stream_trigger_s"] / T, "s"),
        "stream.add_batch_s": (L["stream_add_batch_s"] / T, "s"),
        "stream.wal_commit_s": (L["stream_wal_commit_s"] / T, "s"),
        "stream.state_commit_s": (L["stream_state_commit_s"] / T, "s"),
        "stream.state_rows": (L["stream_state_rows"] / T, "count"),
        "stream.state_mem_bytes": (L["stream_state_mem_bytes"] / T, "B"),
        "tables.register_s": (
            statistics.median([s["register_s"] for s in art["setups"]]), "s"),
        "trace.overhead_ratio": (
            statistics.median([p["wall_s"] for p in traced]) /
            statistics.median([p["wall_s"] for p in untraced if p.get("repeat")]),
            "ratio"),
        "trace.accounted_ratio": (
            1.0 - self_s.get("stmt", 0.0) / max(1e-9, stmt_wall), "ratio"),
    }
    for layer in SELF_LAYERS:
        m["self." + layer.replace(".", "_") + "_s"] = (
            self_s.get(layer, 0.0) / T, "s")
    return m


SELF_LAYERS = ["stmt", "dialect.translate", "engine.sql", "engine.parse",
               "engine.analysis", "engine.optimize", "engine.physical_plan",
               "exec", "exec.job", "ops.construct", "stream.run"]


# ------------------------------------------------------------ main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    os.makedirs(BUILD, exist_ok=True)
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1
    cat = catalog(classes)
    plan, expect = plan_for(a.workload, cat, a.seed, a.trace, a.seconds)
    oracle.prepare(expect)  # DuckDB answers, cached; untimed

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan["spans"] = os.path.join(run_dir, "spans.json")
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    out = os.path.join(run_dir, "artifact.json")

    io_pre = canary.io_canary(run_dir)
    run_jvm(classes, ["perfbench.Harness", "run", plan_path, out],
            os.path.join(run_dir, "tmp"), os.path.join(run_dir, "harness.log"))
    io_post = canary.io_canary(run_dir)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    with open(out) as f:
        art = json.load(f)

    attempted, failures, unchecked = check(art, expect)
    failed = len(failures)
    if a.workload == "presto_corpus":
        correct = attempted - failed >= CORPUS_FLOOR * attempted
    else:
        correct = failed == 0

    e2e, tail_info = end_to_end(art)
    report = dict(e2e)
    report["heap_peak_mb"] = (art["heap_peak_mb"], "MB")
    report["error_rate"] = (failed / attempted, "ratio")
    report["unchecked"] = (len(unchecked), "count")
    walls = [p["wall_s"] for p in art["passes"]
             if not p["traced"] and not p.get("repeat")]
    report["pass_drift"] = (walls[-1] / walls[0], "ratio")
    report["warmup_s"] = (art["warmup_s"], "s")
    for k, v in art["cpu_canary"].items():
        report["canary.cpu_" + k] = (v, "s")
    for k in io_pre:
        report["canary.io_" + k + "_pre"] = (io_pre[k], "s")
        report["canary.io_" + k + "_post"] = (io_post[k], "s")
    if a.trace:
        with open(plan["spans"]) as f:
            spans = json.load(f)
        layers = per_layer(art, spans)
        report.update(layers)

    print(f"# workload={a.workload} seed={a.seed} trace={a.trace} "
          f"cores={art['cores']} statements/pass="
          f"{len(plan['items'])} passes={len(walls)} "
          f"tail=p{tail_info['stmt_tail_pct']:.1f} of n={tail_info['stmt_tail_n']}")
    for sid, why in failures:
        print(f"# FAIL {sid}: {why}")
    for k, (v, unit) in report.items():
        print(f"{k} {v:.6g} {unit}")
    chosen = (layers if a.trace else e2e)
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
