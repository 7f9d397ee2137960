#!/usr/bin/env python3
"""Benchmark of the DDL → armed Derby pipeline (see perfbench/README.md).

    python3 perfbench/run.py --workload catalog-cold --seed 1 --seconds 5 --trace 0

Run from the repository root. Builds the program if its sources changed,
makes the inputs from the seed, runs every measured pipeline in a fresh
JVM with its own scratch directories, checks the outputs, and prints one
JSON object as the last line of standard output.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import ddlgen  # noqa: E402
import spans as spanlib  # noqa: E402

# name -> (catalog or slice, rows per table)
WORKLOADS = {
    "catalog-cold": ("catalog", 100),
    "bulk-load": ("slice", 10000),
}
CPUS = max(1, min(4, os.cpu_count() or 1))
HEAP = "3g"
DEADLINE_S = 170          # every JVM of a run must end within this
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

# metric names and units: BENCHMARK.json is the one list
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Checks:
    """Correctness bookkeeping: every check is one attempt."""

    def __init__(self):
        self.attempted, self.failed = 0, 0

    def check(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {what}")
        return ok


def make_inputs(kind, seed, path):
    """Write the workload's DDL for `seed`; return its catalog model."""
    model = ddlgen.generate(seed)
    if kind == "slice":
        model = ddlgen.slice_model(model)
    ddlgen.write(path, model)
    return model


def jvm(classpath, scratch, args, deadline):
    """Run perfbench.Main in a fresh JVM whose every scratch location
    (cwd, tmp, Spark local dir, warehouse, Derby home, artifacts) lives
    under `scratch`."""
    for d in ("tmp", "local", "warehouse", "derby", "artifacts"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           [f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={scratch}/tmp", f"-Dspark.local.dir={scratch}/local",
            f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
            f"-Dderby.system.home={scratch}/derby",
            "-cp", classpath,
            "perfbench.Main"] + args)
    env = dict(os.environ, GRAFT_ARTIFACT_DIR=f"{scratch}/artifacts",
               SPARK_LOCAL_DIRS=f"{scratch}/local", TMPDIR=f"{scratch}/tmp")
    with open(os.path.join(scratch, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=scratch, stdout=logf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = -9
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(scratch, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        log(f"JVM exited with {rc}: {' '.join(args[:2])}\n{tail}")
    return rc


def launch(classpath, run_dir, tag, kind, seed, rows, mode, deadline):
    """Write the inputs and run one JVM. `mode` is "setup" (session only),
    "plain" (untraced pipeline) or "traced". Returns (result dict or None,
    model, setup seconds from input writing to a ready session)."""
    scratch = os.path.join(run_dir, tag)
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    t0 = time.time_ns()
    ddl = os.path.join(scratch, "input.sql")
    model = make_inputs(kind, seed, ddl)
    out = os.path.join(scratch, "out.json")
    args = ["setup", str(CPUS), out] if mode == "setup" else \
        ["pipeline", ddl, str(rows), str(seed), str(CPUS), "1" if mode == "traced" else "0", out,
         os.path.join(scratch, "spans.jsonl")]
    rc = jvm(classpath, scratch, args, deadline)
    if rc != 0 or not os.path.exists(out):
        return None, model, None
    with open(out) as fh:
        res = json.load(fh)
    if mode == "traced":
        res["spans"] = spanlib.load(os.path.join(scratch, "spans.jsonl"))
    return res, model, (res["ready_epoch_ns"] - t0) / 1e9


def wave_of(model):
    return {t: w for w, ts in enumerate(model["waves"]) for t in ts}


def check_pipeline(ck, res, model, rows, label):
    """Checks on one pipeline's per-table report against the model."""
    targets = {t["name"]: t for t in model["tables"] if not t["skip"]}
    c = ddlgen.counts(model)
    ck.check(res["counts"] == c, f"{label}: parser counts {res['counts']} != generated {c}")
    reports = {r["table"]: r for r in res["reports"]}
    ck.check(set(reports) == set(targets), f"{label}: report tables differ from the generated targets")
    waves = wave_of(model)
    for name, r in sorted(reports.items()):
        t = targets.get(name)
        if t is None:
            continue
        problems = []
        if r["n_loaded"] != rows or r["n_readback"] != rows:
            problems.append(f"loaded {r['n_loaded']} read back {r['n_readback']} of {rows}")
        if t["pk"][1] == "uniqueidentifier" or len(t["pk"]) == 4:
            if not r["pk_rearmed"]:
                problems.append("distinct-key PK refused re-arm")
        earlier = [f for f in model["fks"] if f["table"] == name and f["ref"] in targets
                   and waves[f["ref"]] < waves[name]]
        armable = [f for f in earlier if reports.get(f["ref"], {}).get("pk_rearmed")]
        if r["n_fks_rearmed"] < len(armable):
            problems.append(f"{r['n_fks_rearmed']} FKs re-armed, {len(armable)} earlier-wave edges armable")
        audited = [f for f in model["fks"] if f["table"] == name and f["ref"] in targets]
        if len(audited) == len(earlier) and r["n_fk_bad"] != 0:
            problems.append(f"{r['n_fk_bad']} FK violations on earlier-wave edges")
        ck.check(not problems, f"{label}: table {name}: {'; '.join(problems)}")


def check_edges(ck, res, model, label):
    """Per-edge checks the traced run's audit makes possible."""
    targets = {t["name"] for t in model["tables"] if not t["skip"]}
    waves = wave_of(model)
    armed = {r["table"] for r in res["reports"] if r["pk_rearmed"]}
    for e in res["edges"]:
        if e["ref"] in targets and waves[e["ref"]] < waves[e["table"]]:
            ok = e["bad"] == 0 and (e["rearmed"] or e["ref"] not in armed)
            ck.check(ok, f"{label}: edge {e['table']}.{e['column']} -> {e['ref']}: "
                         f"{e['bad']} violations, rearmed={e['rearmed']}")


def digest(res):
    body = json.dumps(sorted(res["reports"], key=lambda r: r["table"]), sort_keys=True)
    return hashlib.sha256(body.encode()).hexdigest()


def check_digest(ck, root, workload, seed, stamp, d):
    """The per-table report digest must repeat for the same seed and build."""
    ddir = os.path.join(root, build.BUILD_DIR, "digests")
    os.makedirs(ddir, exist_ok=True)
    path = os.path.join(ddir, f"{workload}-{seed}-{stamp[:16]}")
    if os.path.exists(path):
        with open(path) as fh:
            prev = fh.read().strip()
        ck.check(prev == d, f"report digest {d[:12]} differs from an earlier run's {prev[:12]}")
    else:
        with open(path, "w") as fh:
            fh.write(d)


def metric(v, unit):
    return {"value": v, "unit": unit}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    classes, stamp = build.build(root)
    classpath = f"{classes}:{os.path.join(build.spark_jars(root), '*')}"
    deadline = time.monotonic() + DEADLINE_S
    kind, rows = WORKLOADS[a.workload]
    run_dir = os.path.join(root, build.BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ck = Checks()
    try:
        # set-up samples: session-only JVMs for --seconds (at least one),
        # plus the untraced pipeline JVM's own set-up
        setups, t_end, i = [], time.monotonic() + a.seconds, 0
        while not a.trace and (i == 0 or time.monotonic() < t_end):
            _, _, s = launch(classpath, run_dir, f"setup{i}", kind, a.seed, rows, "setup", deadline)
            if s is None:
                raise SystemExit("perfbench: session set-up failed")
            setups.append(s)
            i += 1

        plain, model, s = launch(classpath, run_dir, "plain", kind, a.seed, rows, "plain", deadline)
        if plain is None:
            raise SystemExit("perfbench: untraced pipeline failed")
        setups.append(s)
        check_pipeline(ck, plain, model, rows, "untraced")
        check_digest(ck, root, a.workload, a.seed, stamp, digest(plain))

        if a.trace:
            traced, model, _ = launch(classpath, run_dir, "traced", kind, a.seed, rows, "traced", deadline)
            if traced is None:
                raise SystemExit("perfbench: traced pipeline failed")
            check_pipeline(ck, traced, model, rows, "traced")
            check_edges(ck, traced, model, "traced")
            ck.check(digest(traced) == digest(plain), "traced per-table results differ from untraced")
            m = spanlib.layer_metrics(traced["spans"], traced)
            m["trace.overhead_s"] = traced["pipeline_s"] - plain["pipeline_s"]
            with open(os.path.join(root, build.BUILD_DIR, f"spans-{a.workload}-{a.seed}.jsonl"), "w") as fh:
                for sp in traced["spans"]:
                    fh.write(json.dumps(sp) + "\n")
            metrics = {k: metric(m[k], u) for k, u in PER_LAYER.items()}
        else:
            e2e = {
                "setup_s": statistics.median(setups),
                "pipeline_s": plain["pipeline_s"],
                "rows_per_s": sum(r["n_readback"] for r in plain["reports"]) / plain["pipeline_s"],
                "peak_rss_mb": plain["peak_rss_mb"],
            }
            metrics = {k: metric(e2e[k], u) for k, u in END_TO_END.items()}
        print(json.dumps({"correct": ck.failed == 0, "attempted": ck.attempted,
                          "failed": ck.failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
