#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload ga_dashboard --seed 1 \
        --seconds 15 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

* ga_dashboard: rounds of seeded GaQuery reports over an events table
  (one of each of the 8 report templates), interleaved with one run of
  each registered GA analysis op (decile_lift, rfm_segments,
  equi_depth_hist, funnel_steps, cohort_retention, attribution_linear)
  written to the noop sink. The first two rounds are the warm-up; the
  window runs whole rounds, at least one.
* ingest_ticks: a crawl-like corpus fed to Graft.curateIngest in ledger
  mode (quality, exact, near-dup and semantic dedup) as equal-sized
  monotone-doc_id ticks, each followed by reads that call
  Snapshots.latest and readAsOf on the four stage tables. The seed tick
  is the warm-up; the window runs merge ticks, at least one. After the
  window a one-shot Graft.curate of the ingested docs must report the
  same stage counts.

A run builds the engine from source if needed (perfbench/build.py),
generates its inputs from the seed (perfbench/fixtures.py), starts
one JVM with a local session of `nproc` slots and a fixed heap, sets
up, measures a closed loop of one client for about `--seconds`, and then
checks every recorded output (perfbench/checks.py: DuckDB oracles for
reports and ops, stage-count invariants for the ticks).

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics`. With `--trace 0` the metrics are the end-to-end
ones; with `--trace 1` a SparkListener and a QueryExecutionListener
record per-layer counters on every operation in the window, the metrics
are the per-layer ones (with the traced run's own latencies, to set
against an untraced run's for the tracing overhead), and the spans and
counters go to
`.bench_build/trace/<workload>-seed<seed>.json`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402
import fixtures  # noqa: E402
import reports  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
HEAP = "4g"
DEADLINE_S = 170
# input sizes; every workload keeps its working set far below the heap
SIZES = {
    "ga_dashboard": {"events": 100_000, "users": 1_500,
                     "orders": 75_000, "customers": 7_500},
    "ingest_ticks": {"documents": 10_000, "embeddings": 4_000},
}
GA_OPS = ["decile_lift", "rfm_segments", "equi_depth_hist", "funnel_steps",
          "cohort_retention", "attribution_linear"]
# ga_dashboard's warm-up rounds: a shape's second run is still ~20%
# slower than its third, and varies more
WARM_ROUNDS = 2
# rounds planned for ga_dashboard: the warm-up, then as many as a window
# could reach on a host several times faster than a 4-core VM
ROUNDS = WARM_ROUNDS + 6
# every tick has the same size: a window holds only one or two ticks,
# so mixed sizes would make docs/s depend on which sizes it reached
TICK = 2_000
# reads of the four stage tables after each tick
READS_PER_TICK = 3
LAYERS = ["ga", "ops", "text", "vec", "sources", "api", "ckpt"]
# the per-layer counters the tracer keeps, with their units
FIELDS = {"jobs": "count", "job_wall_s": "s", "task_run_s": "s",
          "task_cpu_s": "s", "shuffle_write_mb": "MB",
          "shuffle_read_mb": "MB", "spill_mb": "MB", "gc_s": "s",
          "input_rows": "rows"}
JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def file_layers():
    """Source file name -> layer, for charging jobs by call site."""
    src = ROOT / "src" / "main" / "scala" / "graft"
    out = {}
    for p in sorted(src.rglob("*.scala")):
        rel = p.relative_to(src).parts
        layer = rel[0] if len(rel) > 1 else (
            "ckpt" if p.stem == "Ckpt" else None)
        if layer in LAYERS:
            out.setdefault(p.stem, layer)
    return out


def make_plan(workload, rng, info):
    if workload == "ga_dashboard":
        return {"events": info["events"]["rows"], "ops": GA_OPS,
                "warm_rounds": WARM_ROUNDS,
                "rounds": reports.plan_rounds(rng, ROUNDS, GA_OPS)}
    n = info["documents"]["rows"]
    return {"cuts": list(range(TICK, n + 1, TICK)),
            "reads_per_tick": READS_PER_TICK}


def run_jvm(cp, plan_path, result_path, log_path, budget):
    """Run the JVM half. Class loading is a large share of a cold
    Spark session, so the first run after a build records the classes
    it loaded in a class-data archive (CDS) at exit, and later runs map
    it in; a run without a usable archive loads classes as usual."""
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={plan_path.parent / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    part = build.CDS.with_suffix(".part")
    if build.CDS.is_file():
        cmd.append(f"-XX:SharedArchiveFile={build.CDS}")
    else:
        part.unlink(missing_ok=True)
        cmd.append(f"-XX:ArchiveClassesAtExit={part}")
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Main", str(plan_path),
            str(result_path)]
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=plan_path.parent)
        try:
            code = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"JVM still running after {budget:.0f} s")
    if code != 0:
        tail = log_path.read_text().splitlines()[-30:]
        raise RuntimeError(f"JVM exited {code}:\n" + "\n".join(tail))
    if part.is_file():
        part.rename(build.CDS)
    return json.loads(result_path.read_text())


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(samples, setup_s):
    ok = [s for s in samples if s["ok"]]
    ops = [s for s in ok if s["kind"] == "op"]
    aux = [s for s in ok if s["kind"] == "aux"]

    def p50(xs, f=lambda s: s["seconds"]):
        # the median of per-name medians: report shapes and analysis
        # ops differ by up to 5x in cost, so this does not depend on
        # which of them the window reached twice
        names = sorted({s["name"] for s in xs})
        return median([median([f(s) for s in xs if s["name"] == n])
                       for n in names])

    return {
        "setup_s": (setup_s, "s"),
        "op_latency_p50_s": (p50(ops), "s"),
        "aux_latency_p50_s": (p50(aux), "s"),
        # the same median over each operation's input rows per second
        "input_rows_per_s": (p50(ops, lambda s: s["rows"] / s["seconds"]),
                             "rows/s"),
    }


def per_layer(res, samples, info, n_cores):
    """Per-layer metrics from the traced operations, as
    (value, unit, base, base_n): layer counters per traced operation,
    spans per traced call of their kind."""
    tr = res["trace"]
    n_ops = sum(1 for s in samples if s["traced"])
    spans = tr["spans"]
    roots = [s for s in spans if s["parent"] < 0]
    by_kind = {
        "report": [s for s in roots
                   if s["layer"] == "ga" and s["name"].startswith("op:")],
        "tick": [s for s in roots if s["layer"] == "api"],
        "read": [s for s in roots if s["name"].startswith("aux:read")],
    }
    dur = lambda s: (s["end_ms"] - s["start_ms"]) / 1e3
    driver = lambda s: dur(s) - s["job_ms"] / 1e3

    def per(total, unit, base):
        n = n_ops if base == "op" else len(by_kind[base])
        return (total / n if n else 0.0, f"{unit}/{base}", base, n)

    def span_total(name):
        return sum(dur(s) for s in spans if s["name"] == name)

    m = {}
    for layer in LAYERS:
        for f, unit in FIELDS.items():
            m[f"{layer}.{f}"] = per(tr["layers"][layer][f], unit, "op")
    m["ga.todf_s"] = per(span_total("ga.todf"), "s", "report")
    m["ga.driver_only_s"] = per(sum(map(driver, by_kind["report"])), "s",
                                "report")
    for k, phase in (("analysis_s", "analysis"),
                     ("optimizer_s", "optimization"),
                     ("planning_s", "planning")):
        m[f"plans.{k}"] = per(tr["plans"][phase], "s", "op")
    m["sources.latest_s"] = per(span_total("sources.latest"), "s", "read")
    m["sources.read_s"] = per(span_total("sources.read"), "s", "read")
    stored = {"files": 0, "bytes": 0, "versions": 0, "ingested": 0}
    stored.update(res["facts"].get("stored", {}))
    # nothing is vacuumed: what the tables hold after the last tick is
    # what the ticks wrote
    ticks = stored["versions"]
    per_tick = lambda x: x / ticks if ticks else 0.0
    input_bytes = sum(info[t]["bytes"] for t in ("documents", "embeddings")
                      if t in info)
    ingested = input_bytes * stored["ingested"] / info.get(
        "documents", {"rows": 1})["rows"]
    m["sources.files_written"] = (per_tick(stored["files"]), "count/tick",
                                  "tick", ticks)
    m["sources.bytes_written_mb"] = (per_tick(stored["bytes"]) / 2**20,
                                     "MB/tick", "tick", ticks)
    m["sources.versions"] = (ticks, "count", "tick", ticks)
    m["sources.stored_bytes_per_input_byte"] = (
        stored["bytes"] / ingested if ingested else 0.0, "ratio", "tick",
        ticks)
    m["api.tick_s"] = per(sum(map(dur, by_kind["tick"])), "s", "tick")
    m["api.driver_only_s"] = per(sum(map(driver, by_kind["tick"])), "s",
                                 "tick")
    run_s = sum(tr["layers"][l]["task_run_s"] for l in LAYERS + ["spark"])
    wall = sum(map(dur, roots))
    m["spark.storage_mb_peak"] = (tr["storage_peak_bytes"] / 2**20, "MB",
                                  "op", n_ops)
    m["spark.slot_busy_frac"] = (run_s / (wall * n_cores) if wall else 0.0,
                                 "frac", "op", n_ops)
    m["spark.tasks"] = per(tr["tasks"], "count", "op")
    m["spark.stages"] = per(tr["stages"], "count", "op")
    m["spark.unattributed_jobs"] = per(tr["layers"]["spark"]["jobs"],
                                       "count", "op")
    # tracing overhead: the tracer's own callback time, and this run's
    # end-to-end latencies to set against an untraced run's
    m["trace.listener_s"] = per(tr["listener_s"], "s", "op")
    e2e = end_to_end(samples, 0.0)
    for k in ("op_latency_p50_s", "aux_latency_p50_s"):
        m[f"trace.{k}"] = (e2e[k][0], "s", "op", n_ops)
    return m


def with_self_time(spans):
    """Each span with `self_s`: its duration minus the part its child
    spans cover (children of one span run one after another), and
    `driver_s`: its duration minus the part Spark jobs cover."""
    dur = {s["id"]: (s["end_ms"] - s["start_ms"]) / 1e3 for s in spans}
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + dur[s["id"]]
    return [dict(s, self_s=dur[s["id"]] - child.get(s["id"], 0.0),
                 driver_s=dur[s["id"]] - s["job_ms"] / 1e3) for s in spans]


def predictions(workload, m):
    """The layers a workload must not touch, and whether it did not."""
    zero = {"ga_dashboard": ["text", "vec", "sources"],
            "ingest_ticks": ["ga"]}[workload]
    return {layer: all(v[0] == 0 for k, v in m.items()
                       if k.startswith(layer + "."))
            for layer in zero}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_begin = time.monotonic()
    try:
        cp = build.build()
    except build.BuildError as e:
        log(str(e))
        return 2
    t_setup = time.monotonic()
    work = OUT / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    for d in (data, work / "tmp", work / "spark-local"):
        d.mkdir(parents=True)
    info = fixtures.generate(data, a.seed, SIZES[a.workload])
    rng = np.random.default_rng([a.seed, 1])
    plan = make_plan(a.workload, rng, info)
    jvm_plan = dict(plan)
    if "rounds" in plan:
        jvm_plan["rounds"] = [[it if "op" in it else reports.to_jvm(it)
                               for it in rnd] for rnd in plan["rounds"]]
    n_cores = cores()
    jvm_plan.update(workload=a.workload, data=str(data), work=str(work),
                    cores=n_cores, seconds=a.seconds, trace=bool(a.trace),
                    file_layers=file_layers())
    plan_path = work / "plan.json"
    plan_path.write_text(json.dumps(jvm_plan))
    fixture_s = time.monotonic() - t_setup
    launch_ms = time.time() * 1000
    budget = DEADLINE_S - (time.monotonic() - t_begin)
    try:
        res = run_jvm(cp, plan_path, work / "result.json",
                      work / "jvm.log", budget)
    except RuntimeError as e:
        log(str(e))
        return 3
    # set-up: inputs, JVM start, session build, and the table loads and
    # warm-up calls before the window opens
    setup_s = fixture_s + (res["ready_ms"] - launch_ms) / 1e3
    samples = res["samples"]
    jvm_s = time.time() - launch_ms / 1000
    t_check = time.monotonic()
    if a.workload == "ga_dashboard":
        # one sample per planned item, in plan order
        items = [it for rnd in plan["rounds"] for it in rnd]
        specs = {i: it for i, it in enumerate(items[:len(samples)])
                 if "op" not in it}
        bad = checks.ga_dashboard(data, samples, specs,
                                  res["facts"]["oracle_sql"])
    else:
        bad = checks.ingest_ticks(samples)
    log(f"fixtures {fixture_s:.1f} s, jvm {jvm_s:.1f} s (session "
        f"{res['session_s']:.1f} s, ready after "
        f"{(res['ready_ms'] - launch_ms) / 1e3:.1f} s), checks "
        f"{time.monotonic() - t_check:.1f} s")
    for i, why in sorted(bad.items()):
        log(f"check failed: {samples[i]['kind']} {samples[i]['name']}: {why}")
        samples[i]["ok"] = False
        samples[i]["error"] = "CheckFailed: " + why
    for s in samples:
        if s["error"] and not s["error"].startswith("CheckFailed"):
            log(f"error: {s['kind']} {s['name']}: {s['error']}")
    failed = sum(1 for s in samples if not s["ok"])
    kinds = {k: sum(1 for s in samples if s["kind"] == k and s["ok"])
             for k in ("warm", "op", "aux", "check")}
    log(f"{a.workload} seed {a.seed}: window {res['window_s']:.1f} s, "
        f"ok samples {kinds}, ops_failed_frac {failed}/{len(samples)}, "
        f"setup {setup_s:.2f} s")
    if a.trace:
        m = per_layer(res, samples, info, n_cores)
        art = OUT / "trace" / f"{a.workload}-seed{a.seed}.json"
        art.parent.mkdir(parents=True, exist_ok=True)
        art.write_text(json.dumps({
            "workload": a.workload, "seed": a.seed, "inputs": info,
            "metrics": {k: {"value": v, "unit": u, "base": b, "base_n": n}
                        for k, (v, u, b, n) in m.items()},
            "predicted_zero": predictions(a.workload, m),
            "layer_totals": res["trace"]["layers"],
            "plans_totals": res["trace"]["plans"],
            "spans": with_self_time(res["trace"]["spans"]),
            "failures": [s for s in samples if not s["ok"]],
        }, indent=1, default=str))
        log(f"trace artifact: {art.relative_to(ROOT)}")
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in m.items()}
    else:
        e2e = end_to_end(samples, setup_s)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(samples),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
