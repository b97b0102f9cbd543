"""Per-layer metrics from a traced run's spans and job ledger.

A span is one call the benchmark made into a module; its self time is
its duration minus the time its child spans cover. Every `*_ms` layer
metric is the mean self time per call of that span; `*_jobs` is the
mean number of Spark jobs the call itself started. The `spark.*` and
`pipeline.<File>.*` metrics are per traced operation of the workload's
primary kind (a turn, a read, a curate run).
"""
import json
from collections import defaultdict
from statistics import median

PIPELINE_FILES = ["TextAnalysis", "Dedup", "Curation", "TrainingPipeline",
                  "OperatorCache", "TextSearch"]

# metric -> span name whose mean self time (ms) it reports
SELF_MS = {
    "agent.prompt_ms": "agent.prompt",
    "agent.llm_ms": "agent.llm",
    "engine.gate_ms": "engine.gate",
    "engine.analyze_ms": "engine.analyze",
    "engine.exec_ms": "engine.exec",
    "response.infer_ms": "response.infer",
    "plan.load_ms": "plan.load",
    "pipeline.textsearch.serve_plan_ms": "pipeline.textsearch.serve_plan",
    "pipeline.textsearch.serve_exec_ms": "pipeline.textsearch.serve_exec",
    "pipeline.textsearch.append_ms": "pipeline.textsearch.append",
    "pipeline.textsearch.delete_ms": "pipeline.textsearch.delete",
    "pipeline.textsearch.update_ms": "pipeline.textsearch.update",
    "pipeline.textsearch.compact_ms": "pipeline.textsearch.compact",
    "pipeline.curate.build_ms": "pipeline.curate.build",
    "pipeline.curate.exec_ms": "pipeline.curate.exec",
}
# metric -> span name whose mean job count it reports
JOBS = {
    "agent.prompt_jobs": "agent.prompt",
    "engine.exec_jobs": "engine.exec",
    "response.jobs": "response.infer",
    "pipeline.textsearch.serve_plan_jobs": "pipeline.textsearch.serve_plan",
}


def _union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def per_layer(trace_path, ops, primary, cores, live_after):
    t = json.load(open(trace_path))
    spans = {s["id"]: s for s in t["spans"]}
    dur = {i: (s["end_ns"] - s["start_ns"]) / 1e6 for i, s in spans.items()}
    child = defaultdict(float)
    for s in spans.values():
        if s["parent"] >= 0:
            child[s["parent"]] += dur[s["id"]]
    self_ms = {i: dur[i] - child[i] for i in spans}
    jobs_of = defaultdict(list)
    for j in t["jobs"]:
        if j["span"] >= 0:
            jobs_of[j["span"]].append(j)
    by_name = defaultdict(list)
    for s in spans.values():
        by_name[s["name"]].append(s["id"])

    m = {}
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0
    for metric, name in SELF_MS.items():
        m[metric] = mean([self_ms[i] for i in by_name[name]])
    for metric, name in JOBS.items():
        m[metric] = mean([len(jobs_of[i]) for i in by_name[name]])
    m["agent.prompt_chars"] = mean([spans[i]["attrs"].get("chars", 0) for i in by_name["agent.prompt"]])

    prim_ops = {o["i"] for o in ops if o["traced"] and o["kind"] in primary}
    roots = [i for i in by_name["op"] if spans[i]["op"] in prim_ops]
    per_op = lambda x: x / max(1, len(roots))
    m["agent.attempts_per_turn"] = per_op(sum(spans[i]["op"] in prim_ops for i in by_name["agent.prompt"]))

    # rows read per result row, and bytes written per input byte
    def stage_sum(ids, key):
        return sum(st[key] for i in ids for j in jobs_of[i] for st in j["stages"])
    exec_ids = by_name["pipeline.textsearch.serve_exec"]
    rows = sum(spans[i]["attrs"].get("rows", 0) for i in exec_ids)
    m["pipeline.textsearch.rows_read_per_result"] = stage_sum(exec_ids, "records_read") / rows if rows else 0.0
    w_ids = by_name["pipeline.textsearch.append"] + by_name["pipeline.textsearch.update"]
    in_bytes = sum(spans[i]["attrs"].get("input_bytes", 0) for i in w_ids)
    m["pipeline.textsearch.write_bytes_per_input_byte"] = (
        stage_sum(w_ids, "bytes_written") / in_bytes if in_bytes else 0.0)
    sampled = [o for o in ops if "index_files" in o]
    m["pipeline.textsearch.index_files"] = mean([o["index_files"] for o in sampled])
    m["pipeline.textsearch.bytes_per_live_doc"] = mean(
        [o["index_bytes"] / live_after[o["i"]] for o in sampled if live_after.get(o["i"])])

    # everything under the primary operations' root spans
    op_jobs = [j for i, s in spans.items() if s["op"] in prim_ops for j in jobs_of[i]]
    stages = [st for j in op_jobs for st in j["stages"]]
    for f in PIPELINE_FILES:
        m[f"pipeline.{f}.jobs"] = per_op(sum(1 for j in op_jobs if j["stages"] and j["stages"][-1]["file"] == f))
        m[f"pipeline.{f}.stage_ms"] = per_op(sum(st["ms"] for st in stages if st["file"] == f))
    op_wall = sum(dur[i] for i in roots)
    gaps = []
    for r in roots:
        iv = [(j["start"], j["end"]) for i, s in spans.items() if s["op"] == spans[r]["op"]
              for j in jobs_of[i]]
        gaps.append(max(0.0, dur[r] - _union_ms(iv)))
    m["spark.jobs_per_op"] = per_op(len(op_jobs))
    m["spark.tasks_per_op"] = per_op(sum(st["tasks"] for st in stages))
    m["spark.driver_gap_ms"] = mean(gaps)
    m["spark.scheduler_delay_ms"] = per_op(sum(st["sched_delay_ms"] for st in stages))
    cpu = sum(st["cpu_ms"] for st in stages)
    m["spark.cpu_ms"] = per_op(cpu)
    m["spark.gc_ms"] = per_op(sum(st["gc_ms"] for st in stages))
    m["spark.shuffle_write_bytes"] = per_op(sum(st["shuffle_write_bytes"] for st in stages))
    m["spark.spill_bytes"] = per_op(sum(st["spill_bytes"] for st in stages))
    m["spark.core_util"] = cpu / (op_wall * cores) if op_wall else 0.0

    # the root span's self time is wall the layer spans do not cover
    m["trace.op_self_frac"] = sum(self_ms[i] for i in roots) / op_wall if op_wall else 0.0
    walls = lambda traced: [o["wall_ms"] for o in ops
                            if o["timed"] and o["traced"] == traced and o["kind"] in primary]
    on, off = walls(True), walls(False)
    m["trace.overhead_frac"] = median(on) / median(off) - 1 if on and off else 0.0
    m["trace.traced_ops"] = float(len(roots))
    return m
