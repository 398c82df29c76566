"""Turns the harness's raw records into the benchmark's metrics.

Pure functions over plain dicts (the JSON the harness writes), so the
arithmetic is testable without a JVM. BENCHMARK.json names every metric
with its unit and direction; `end_to_end` and `per_layer` compute exactly
those names (the result-schema test checks this).
"""
import statistics

MB = float(1 << 20)


def union_ns(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time_ns(span, children):
    """A span's duration minus the part of its interval its children cover."""
    s, e = span["start_ns"], span["end_ns"]
    clipped = [(max(s, c["start_ns"]), min(e, c["end_ns"])) for c in children]
    return (e - s) - union_ns(clipped)


def job_spans(jobs):
    """Jobs as spans: a job's parent is the span id in its `pb:<id>` job
    group; jobs without a benchmark job group get parent None."""
    out = []
    for j in jobs:
        g = j.get("group") or ""
        parent = int(g[3:]) if g.startswith("pb:") else None
        out.append(dict(j, parent=parent))
    return out


def pass_layers(pass_rec, spans, jobs, cores, input_file_bytes, result_rows):
    """Per-layer metrics of one traced pass.

    `spans`/`jobs` are the whole run's; the pass's own are found through
    its span. `result_rows` maps query -> output rows (from the check pass).
    """
    by_id = {s["id"]: s for s in spans}
    root = by_id[pass_rec["span"]]
    in_pass = {root["id"]}
    for s in sorted(spans, key=lambda s: s["id"]):
        if s["parent"] in in_pass:
            in_pass.add(s["id"])
    mine = [by_id[i] for i in in_pass]
    js = job_spans(jobs)
    pass_jobs = [j for j in js if j["parent"] in in_pass]
    unattributed = [j for j in js if j["parent"] is None
                    and root["start_ns"] <= j["start_ns"] <= root["end_ns"]]
    kids = {}
    for j in pass_jobs:
        kids.setdefault(j["parent"], []).append(j)

    def layer(name):
        return [s for s in mine if s["name"] == name]

    def dur(ss):
        return sum(s["end_ns"] - s["start_ns"] for s in ss) / 1e9

    def self_s(ss):
        return sum(self_time_ns(s, kids.get(s["id"], [])) for s in ss) / 1e9

    construct, catalyst, execs = layer("construct"), layer("catalyst"), layer("exec")
    c_ids = {s["id"] for s in construct}
    x_ids = {s["id"] for s in execs}
    c_jobs = [j for j in pass_jobs if j["parent"] in c_ids]
    x_jobs = [j for j in pass_jobs if j["parent"] in x_ids]
    all_jobs = pass_jobs + unattributed

    def total(jj, key):
        return sum(j[key] for j in jj)

    exec_s = dur(execs)
    pass_s = dur(layer("query"))
    queries = pass_rec["queries"]
    plans = [q.get("plan", {}) for q in queries.values()]
    join_rows = sum(q.get("join_rows", 0) for q in queries.values())
    refined = sum(result_rows.get(name, 0) for name, q in queries.items()
                  if q.get("join_rows", 0) > 0)
    return {
        "construct_s": dur(construct),
        "construct_self_s": self_s(construct),
        "construct_jobs": len(c_jobs),
        "construct_input_mb": total(c_jobs, "input_bytes") / MB,
        "construct_share": dur(construct) / pass_s if pass_s else 0.0,
        "catalyst_s": dur(catalyst),
        "plan_exchanges": sum(p.get("exchanges", 0) for p in plans),
        "plan_smj": sum(p.get("smj", 0) for p in plans),
        "plan_bhj": sum(p.get("bhj", 0) for p in plans),
        "plan_scans": sum(p.get("scans", 0) for p in plans),
        "exec_s": exec_s,
        "exec_self_s": self_s(execs),
        "exec_jobs": len(x_jobs),
        "exec_tasks": total(x_jobs, "tasks"),
        "exec_task_cpu_s": total(x_jobs, "cpu_ns") / 1e9,
        "exec_gc_s": total(x_jobs, "gc_ms") / 1e3,
        "exec_core_idle_frac":
            1.0 - total(x_jobs, "run_ms") / 1e3 / (exec_s * cores) if exec_s else 0.0,
        "exec_task_failures": total(all_jobs, "task_failures"),
        "shuffle_write_mb": total(all_jobs, "shuffle_write_bytes") / MB,
        "shuffle_read_mb": total(all_jobs, "shuffle_read_bytes") / MB,
        "spill_mb": total(all_jobs, "spill_bytes") / MB,
        "input_mb": total(all_jobs, "input_bytes") / MB,
        "input_amplification": total(all_jobs, "input_bytes") / input_file_bytes,
        "write_mb": total(all_jobs, "output_bytes") / MB,
        "cache_peak_mb": pass_rec.get("cache_peak_bytes", 0) / MB,
        "cache_leaked_rdds": sum(q.get("leaked_rdds", 0) for q in queries.values()),
        # no candidate join in any final plan: nothing was refined away
        "refine_useful_ratio": refined / join_rows if join_rows else 1.0,
        "unattributed_jobs": len(unattributed),
        "traced_warm_pass_s": pass_rec["s"],
    }


def median(xs):
    return statistics.median(xs) if xs else None


def merge_jvms(results):
    """One harness record from the records of a run's JVMs, in launch
    order: their passes pooled (each tagged with its JVM's index), attempts
    and errors summed; the rest, the check pass and trace included, from the
    last JVM."""
    merged = dict(results[-1])
    merged["passes"] = [dict(p, jvm=i) for i, r in enumerate(results) for p in r["passes"]]
    merged["attempted"] = sum(r["attempted"] for r in results)
    merged["errors"] = [e for r in results for e in r["errors"]]
    return merged


def end_to_end(harness, setup_samples, input_rows):
    passes = harness["passes"]
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    cold = [p["s"] for p in passes if p["kind"] == "cold"]
    warm_s = median([p["s"] for p in warm])
    return {
        "setup_s": median(setup_samples),
        "cold_pass_s": median(cold),
        "warm_pass_s": warm_s,
        "warm_rows_per_s": input_rows / warm_s,
        "peak_rss_mb": median([p["peak_rss_kb"] for p in warm]) / 1024.0,
    }


def per_layer(harness, input_file_bytes, result_rows):
    passes = harness["passes"]
    traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
    untraced = [p["s"] for p in passes if p["kind"] == "warm" and not p["traced"]]
    rows = [pass_layers(p, harness["spans"], harness["jobs"], harness["cores"],
                        input_file_bytes, result_rows) for p in traced]
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    out.update(harness["kernels_ns"])
    out["trace_overhead_frac"] = median([p["s"] for p in traced]) / median(untraced) - 1.0
    return out
