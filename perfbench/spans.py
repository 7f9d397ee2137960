"""Span arithmetic for the traced run: self time and per-layer metrics.

A span is a dict with ``id``, ``name``, ``parent`` (0 = none), ``start``
and ``end`` (seconds) plus the counters the JVM side attributed to it
(``jobs``, ``tasks``, ``shuffle_bytes``, ``spill_bytes``, ``gc_ms``,
``compiles``). Table-level spans are named ``<phase>[<table>]`` under
their phase span.
"""

import json


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans):
    """{span id: duration minus the part of it its children cover}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end"] - s["start"])
            - covered([(c["start"], c["end"]) for c in kids.get(s["id"], [])], s["start"], s["end"])
            for s in spans}


def _phase(name):
    return name.split("[", 1)[0]


def layer_metrics(spans, out):
    """Per-layer metrics from the spans of one traced pipeline and the
    JVM's summary `out` (per-table reports, counts, refusals)."""
    by_name, kids = {}, {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
        kids.setdefault(s["parent"], []).append(s)

    def dur(name):
        return sum(s["end"] - s["start"] for s in by_name.get(name, []))

    def table_sum(phase, key):
        return sum(s[key] for s in spans if "[" in s["name"] and _phase(s["name"]) == phase)

    def phase_sum(phase, key):
        # process-wide counters (GC, compiles) are read on the phase span:
        # phases never overlap, so each count belongs to one layer
        return sum(s[key] for s in by_name.get(phase, []))

    def barrier_wait(phase):
        # mean time a table of the phase waited at the barrier for the
        # slowest table of its wave, summed over waves
        total = 0.0
        for p in by_name.get(phase, []):
            ch = kids.get(p["id"], [])
            if ch:
                total += sum(p["end"] - c["end"] for c in ch) / len(ch)
        return total

    root = by_name["pipeline"][0]
    selfs = self_times(spans)
    gen_exec, load_write = dur("gen.exec"), dur("load.write")
    rows = sum(r["n_loaded"] for r in out["reports"])
    c = out["counts"]
    m = {
        "ddl.parse_s": dur("ddl.parse"),
        "ddl.tables": c["tables"], "ddl.columns": c["columns"], "ddl.fks": c["fks"],
        "rules.infer_s": dur("rules.infer"), "rules.columns": out["rules_columns"],
        "deps.waves_s": dur("deps.waves"), "deps.waves": len(out["waves"]),
        "gen.plan_s": dur("gen.plan"),
        "gen.keysample_s": dur("gen.keysample"),
        "gen.keysample_jobs": table_sum("gen.keysample", "jobs"),
        "gen.wave_wait_s": sum(barrier_wait(p) for p in
                               ("gen.plan", "gen.exec", "load.write", "gen.keysample")),
        "gen.codegen_compiles": sum(phase_sum(p, "compiles") for p in
                                    ("gen.plan", "gen.exec", "gen.keysample")),
        "gen.exec_s": gen_exec,
        "gen.rows_per_s": rows / gen_exec if gen_exec > 0 else 0.0,
        "gen.tasks": table_sum("gen.exec", "tasks"),
        "load.create_s": dur("load.create"),
        "load.rearm_pk_s": dur("load.rearm_pk"),
        "load.rearm_fk_s": dur("load.rearm_fk"),
        "load.rearm_refused": out["rearm_refused"],
        "load.write_s": load_write,
        "load.rows_per_s": rows / load_write if load_write > 0 else 0.0,
        "load.write_tasks": table_sum("load.write", "tasks"),
        "load.codegen_compiles": phase_sum("load.write", "compiles") + phase_sum("load.audit", "compiles"),
        "load.audit_s": dur("load.audit"),
        "load.audit_jobs": phase_sum("load.audit", "jobs"),
        "load.readback_rows": sum(r["n_readback"] for r in out["reports"]),
        "load.fk_bad": sum(e["bad"] or 0 for e in out["edges"]),
        "session.start_s": out["session_start_s"],
        "jvm.gc_s": out["gc_s"],
        "jvm.codegen_compiles": out["codegen_compiles"],
        "trace.wall_s": root["end"] - root["start"],
        "trace.other_s": selfs[root["id"]],
    }
    return m
