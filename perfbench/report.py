"""Turns a harness run record into the benchmark's metrics and output."""

import json
import os
import statistics

import oracle
from stats import median, percentile, self_time, union_length

MB = 1048576.0


# ---- host ---------------------------------------------------------------

def host_sample():
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:9]]
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"cpu": cpu, "load": load}


def host_delta(a, b):
    """CPU steal share over the run (steal / all ticks) and load averages."""
    d = [y - x for x, y in zip(a["cpu"], b["cpu"])]
    total = sum(d)
    return {"steal_frac": d[7] / total if total else 0.0, "load": b["load"]}


# ---- correctness --------------------------------------------------------

def check(rec, out, data_dir, wl, cache_dir):
    """Verdict per checked unit: None if correct, else the reason. Batch
    queries are checked from the outputs their cold pass wrote; an ingest
    run reports its stream-versus-batch comparisons itself."""
    verdicts = {}
    checks = [o for o in rec["ops"] if o["kind"] == "query" and o["pass"] == 0]
    if checks:
        con = oracle.connect(data_dir)
        cache_dir = os.path.join(cache_dir, oracle.tables_digest(data_dir))
        fps = wl.get("fingerprints", {})
        for o in checks:
            if not o["ok"]:
                verdicts[o["name"]] = f"cold pass failed: {o['err']}"
            else:
                verdicts[o["name"]] = oracle.check_query(
                    con, o["name"], os.path.join(out, "check"), rec.get("oracle", {}), fps,
                    cache_dir)
    verdicts.update(rec.get("ingest", {}).get("verdicts", {}))
    return verdicts


# ---- metrics ------------------------------------------------------------

def _lat(o):
    return (o["t1"] - o["t0"]) / 1000.0


def _passes(ops):
    by = {}
    for o in ops:
        by.setdefault(o["pass"], []).append(o)
    return by


def reduce(rec, verdicts, traced):
    """All metrics of a run, as {name: (value, unit)} plus the counts."""
    timed = [o for o in rec["ops"] if o["pass"] >= 0]
    failed = [o for o in timed if not o["ok"] or verdicts.get(o["unit"])]
    traced_pass = {p["pass"]: p["traced"] for p in rec["passes"]}
    by = _passes(timed)
    # warm passes repeat the cold pass's kind of operation: queries, or
    # micro-batch compaction cycles; the ingest workload's read probes
    # come after
    kind0 = by[0][0]["kind"] if 0 in by else None
    warm = [p for p in sorted(by) if p >= 1 and not traced_pass.get(p, False)
            and by[p][0]["kind"] == kind0]
    # The JIT keeps compiling through the first warm passes, and code it
    # has not compiled yet runs slower (iterative_graph's pass CPU falls
    # over its first six passes, a compaction cycle's over three); the
    # later half of the passes is the settled state.
    warm = warm[len(warm) // 2:]
    warm_ops = [o for p in warm for o in by[p]]
    pass_sums = [sum(_lat(o) for o in by[p]) for p in warm]

    # Gated figures are CPU seconds of the program's threads, all but the
    # JIT compiler's: on a shared host the wall clock moves with CPU
    # stolen by neighbours, CPU time much less. The wall-clock twins and
    # the JIT compiler's CPU are printed beside them.
    cpu = lambda ops: sum(o["cpu_ns"] for o in ops) / 1e9
    jit = lambda ops: sum(o["jit_ns"] for o in ops) / 1e9
    m = {}
    m["setup_s"] = (median(rec["setup_cpu_s"]), "s")
    m["cold_pass_cpu_s"] = (cpu(by.get(0, [])), "s")
    m["pass_cpu_s"] = (median([cpu(by[p]) for p in warm]), "s")
    m["op_cpu_p50_s"] = (median([o["cpu_ns"] / 1e9 for o in warm_ops]), "s")

    extra = {"setup_wall_s": (median(rec["setup_s"]), "s"),
             "cold_pass_s": (sum(_lat(o) for o in by.get(0, [])), "s"),
             "pass_s": (median(pass_sums), "s"),
             "op_p50_s": (median([_lat(o) for o in warm_ops]), "s"),
             "setup_jit_s": (median(rec["setup_jit_s"]), "s"),
             "cold_pass_jit_s": (jit(by.get(0, [])), "s"),
             "pass_jit_s": (median([jit(by[p]) for p in warm]), "s")}
    # the JVM's resident peak follows its heap sizing more than the
    # program's live data, so it is printed, not gated
    extra["peak_rss_mb"] = (rec["vm_hwm_kb"] / 1024.0, "MB")
    extra["host.steal_frac"] = (rec["host"]["steal_frac"], "frac")
    p90, n = percentile([_lat(o) for o in warm_ops], 90)
    extra["op_p90_s"] = (p90, f"s (n={n})")
    extra["failed_frac"] = (len(failed) / max(1, len(timed)), "frac")
    extra["warm_passes"] = (len(warm), "count")
    extra["host.load1"] = (rec["host"]["load"][0], "load")
    if "ingest" in rec:
        extra.update(ingest_metrics(rec, timed))
    layers = per_layer(rec, by, traced_pass) if traced else {}
    return {"e2e": m, "extra": extra, "layers": layers,
            "attempted": len(timed), "failed": len(failed),
            "failures": sorted({f"{o['name']}: {o['err'] or verdicts.get(o['unit'])}"
                                for o in failed})[:20]}


def ingest_metrics(rec, timed):
    """What an ingest user sees: micro-batch latency, throughput, and the
    latency of the standing reads over the grown indexes."""
    ing = rec["ingest"]
    batches = [_lat(o) for o in timed if o["kind"] == "batch"]
    probes = [_lat(o) for o in timed if o["kind"] == "probe"]
    p90, n = percentile(batches, 90)
    units = ing["units"]
    return {"batch_p50_s": (median(batches), "s"),
            "batch_p90_s": (p90, f"s (n={n})"),
            "ingest_docs_per_s": (units / sum(batches) if batches else 0.0, "1/s"),
            "probe_p50_s": (median(probes), "s")}


def compact_s(timed):
    """Mean latency of the compacting stream's folding micro-batches minus
    that of its plain ones, over the warm passes."""
    legs = [o for o in timed if o["kind"] == "batch" and o["pass"] >= 1]
    fold = [_lat(o) for o in legs if o["name"] == "append_compact"]
    plain = [_lat(o) for o in legs if o["name"] == "append"]
    return statistics.mean(fold) - statistics.mean(plain) if fold and plain else 0.0


def per_layer(rec, by, traced_pass):
    """Per-layer metrics from the traced warm passes, per operation; the
    tracing overhead from warm passes of one kind run traced and not."""
    tr = rec["trace_record"]
    cpus = rec["cpus"]
    kind0 = by[0][0]["kind"]
    passes = [p for p in by if p >= 1 and traced_pass.get(p) and by[p][0]["kind"] == kind0]
    ops = {f"{o['pass']}/{o['name']}": o for p in passes for o in by[p]}
    n = max(1, len(ops))
    jobs = [j for j in tr["jobs"] if j["op"] in ops]
    stages = [s for s in tr["stages"] if s["op"] in ops]
    phases = [x for x in tr["phases"] if x["op"] in ops]
    wall = sum(_lat(o) for o in ops.values())

    def per_op(total):
        return total / n

    build_jobs = sum(1 for j in jobs if j["t0"] < ops[j["op"]]["tb"])
    driver_gap = 0.0
    job_self = 0.0
    stage_union = 0.0
    for k, o in ops.items():
        oj = [(j["t0"], j["t1"]) for j in jobs if j["op"] == k]
        os_ = [(s["t0"], s["t1"]) for s in stages if s["op"] == k]
        driver_gap += self_time((o["t0"], o["t1"]), oj) / 1000.0
        covered = union_length(oj, o["t0"], o["t1"])
        stage_cov = union_length(os_, o["t0"], o["t1"])
        job_self += max(0.0, covered - stage_cov) / 1000.0
        stage_union += stage_cov / 1000.0
    meta = {p["pass"]: p for p in rec["passes"]}
    cold_compiles = meta[0]["compiles"]
    warm_meta = [meta[p] for p in by if p >= 1 and by[p][0]["kind"] == kind0]
    warm_compiles = median([p["compiles"] for p in warm_meta])
    traced_meta = [p for p in warm_meta if p["traced"]]
    last_kind = by[max(by)][0]["kind"]
    timed_meta = [meta[p] for p in by if p >= 1 and by[p][0]["kind"] == last_kind]
    tw = median([(p["t1"] - p["t0"]) / 1000.0 for p in timed_meta if p["traced"]])
    uw = median([(p["t1"] - p["t0"]) / 1000.0 for p in timed_meta if not p["traced"]])
    s = lambda key: sum(x[key] for x in stages)
    L = {}
    L["operators.build_s"] = (per_op(sum((o["tb"] - o["t0"]) / 1000.0 for o in ops.values())), "s/op")
    L["operators.build_jobs"] = (per_op(build_jobs), "count/op")
    L["catalyst.analysis_s"] = (per_op(sum(x["analysis_ms"] for x in phases) / 1000.0), "s/op")
    L["catalyst.optimizer_s"] = (per_op(sum(x["optimization_ms"] for x in phases) / 1000.0), "s/op")
    L["catalyst.planning_s"] = (per_op(sum(x["planning_ms"] for x in phases) / 1000.0), "s/op")
    L["codegen.compiles"] = (cold_compiles, "count")
    L["codegen.compile_s"] = (meta[0]["compile_ns"] / 1e9 / max(1, len(by[0])), "s/op")
    L["codegen.warm_recompile_frac"] = (warm_compiles / cold_compiles if cold_compiles else 0.0, "frac")
    L["sched.jobs"] = (per_op(len(jobs)), "count/op")
    L["sched.stages"] = (per_op(len(stages)), "count/op")
    L["sched.tasks"] = (per_op(s("tasks")), "count/op")
    L["sched.driver_gap_s"] = (per_op(driver_gap), "s/op")
    L["sched.driver_share"] = (driver_gap / wall if wall else 0.0, "frac")
    L["sched.task_wait_s"] = (per_op(s("wait_ms") / 1000.0), "s/op")
    L["sched.task_failures"] = (s("failures"), "count")
    L["task.run_s"] = (per_op(s("run_ms") / 1000.0), "s/op")
    L["task.cpu_s"] = (per_op(s("cpu_ns") / 1e9), "s/op")
    L["task.cpu_util"] = (s("cpu_ns") / 1e9 / (wall * cpus) if wall else 0.0, "frac")
    L["shuffle.write_mb"] = (per_op(s("shuffle_write") / MB), "MB/op")
    L["shuffle.read_mb"] = (per_op(s("shuffle_read") / MB), "MB/op")
    L["shuffle.fetch_wait_s"] = (per_op(s("fetch_wait_ms") / 1000.0), "s/op")
    L["mem.gc_s"] = (per_op(sum(p["gc_ms"] for p in traced_meta) / 1000.0), "s/op")
    L["mem.spill_mb"] = (per_op(s("spill") / MB), "MB/op")
    L["cache.blocks_put"] = (per_op(sum(v for k, v in tr["blocks_put"].items() if k in ops)), "count/op")
    L["cache.peak_mb"] = (max([o.get("storage_mb", 0.0) for o in rec["ops"]] or [0.0]), "MB")
    L["scan.read_mb"] = (per_op(s("in_bytes") / MB), "MB/op")
    L["scan.rows"] = (per_op(s("in_rows")), "count/op")
    L["self.job_s"] = (per_op(job_self), "s/op")
    L["self.stage_s"] = (per_op(stage_union), "s/op")
    L["trace.overhead_s"] = (tw - uw, "s/pass")
    L["trace.overhead_frac"] = ((tw - uw) / uw if uw else 0.0, "frac")
    for k, v in rec.get("kernels", {}).items():
        L[f"kernel.{k}"] = (v, "ns/byte" if k.endswith("ns_per_byte") else "ns/row")
    ing = rec.get("ingest")
    batch_ops = [o for o in ops.values() if o["kind"] == "batch"]
    nb = max(1, len(batch_ops))
    L["stream.add_batch_s"] = (sum((o["tb"] - o["t0"]) / 1000.0 for o in batch_ops) / nb, "s/batch")
    L["stream.trigger_overhead_s"] = (
        sum(self_time((o["t0"], o["t1"]), [(j["t0"], j["t1"]) for j in jobs
                                           if j["op"] == f"{o['pass']}/{o['name']}"])
            for o in batch_ops) / 1000.0 / nb, "s/batch")
    L["index.write_mb"] = (per_op(s("out_bytes") / MB), "MB/op")
    if ing:
        per_batch_in = ing["ingested_bytes"] / ing["batches"]
        L["index.write_amp"] = (s("out_bytes") / nb / per_batch_in, "frac")
        L["index.files_per_bucket"] = (ing["files_per_bucket"], "count")
        L["index.compact_s"] = (compact_s([o for o in rec["ops"] if o["pass"] >= 0]), "s")
    else:
        L["index.write_amp"] = (0.0, "frac")
        L["index.files_per_bucket"] = (0.0, "count")
        L["index.compact_s"] = (0.0, "s")
    return L


# ---- output -------------------------------------------------------------

def write_spans(rec, path):
    """The traced run's spans — operation, build and action, job, stage —
    each with its parent, as one JSON file."""
    tr = rec["trace_record"]
    spans = []
    for o in rec["ops"]:
        k = f"{o['pass']}/{o['name']}"
        spans.append({"id": k, "parent": None, "kind": o["kind"], "t0": o["t0"], "t1": o["t1"]})
        spans.append({"id": k + "#build", "parent": k, "kind": "build", "t0": o["t0"], "t1": o["tb"]})
        spans.append({"id": k + "#action", "parent": k, "kind": "action", "t0": o["tb"], "t1": o["t1"]})
    tb = {f"{o['pass']}/{o['name']}": o["tb"] for o in rec["ops"]}
    stage_job = {}
    for j in tr["jobs"]:
        side = "#build" if j["op"] in tb and j["t0"] < tb[j["op"]] else "#action"
        spans.append({"id": f"job{j['id']}", "parent": j["op"] + side if j["op"] else None,
                      "kind": "job", "t0": j["t0"], "t1": j["t1"]})
        for s in j["stages"]:
            stage_job[s] = f"job{j['id']}"
    for s in tr["stages"]:
        spans.append({"id": f"stage{s['id']}", "parent": stage_job.get(s["id"]),
                      "kind": "stage", "t0": s["t0"], "t1": s["t1"], "tasks": s["tasks"]})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"spans": spans, "phases": tr["phases"]}, fh)


def _fmt(v):
    return None if v is None else float(f"{v:.6g}")


def emit(result, traced, json_keys):
    """Print every metric as `name value unit`, then the JSON line with
    the metrics BENCHMARK.json names."""
    sections = [("e2e", result["e2e"]), ("extra", result["extra"]), ("layer", result["layers"])]
    for _, ms in sections:
        for name, (v, unit) in ms.items():
            print(f"{name} {'n/a' if v is None else _fmt(v)} {unit}")
    for f in result["failures"]:
        print(f"FAILED {f}")
    print(f"correct {result['failed'] == 0} attempted {result['attempted']} failed {result['failed']}")
    source = result["layers"] if traced else result["e2e"]
    chosen = {k: source[k] for k in json_keys}
    line = {"correct": result["failed"] == 0, "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {k: {"value": _fmt(v), "unit": u} for k, (v, u) in chosen.items()}}
    print(json.dumps(line, separators=(",", ":")))
