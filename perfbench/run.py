#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload harvest_serve --seed 1 --seconds 15 --trace 0

Builds the engine together with the harness (once per source state),
generates the workload's inputs from the seed, runs the harness in a
fresh JVM and Spark session against a fresh work directory, checks every
result against the generator's model, and prints one JSON line last:
end-to-end metrics when untraced, per-layer metrics when traced. The
traced run also writes perfbench/traces/<workload>-seed<N>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from datetime import timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("harvest_serve", "query_sweep")
DEADLINE_S = 170  # a run must end within 180 s after the first build
BUILD_TIMEOUT_S = 840

# Per-workload sizing. Work is fixed per run, derived from --seconds with
# a nominal rate measured at the benchmark's first commit, so two commits
# always measure identical work. Three harvest batches on a two-version
# store reach the default auto-compaction bound once, and the three
# trickles of the serving loop reach it again.
SERVE = {"subjects": 1000, "batches": 3, "fresh": 45, "revisits": 15,
         "read_s": 0.47, "trickles": 3, "setups": 2}
SWEEP = {"setups": 3}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _dirs, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile engine + harness with sbt unless this exact source state is
    already built; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(HERE, "target", "perfbench-classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved.get("sources") == digest:
            return saved["classpath"]
    log("building engine + harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    out = proc.stdout.splitlines()
    cp = [l for l in out if "scala-2.13/classes" in l]
    sys.stderr.write("".join(l + "\n" for l in out if l not in cp))
    if proc.returncode != 0 or not cp:
        die(f"build failed (sbt exit {proc.returncode})")
    log(f"built in {time.time() - t0:.1f}s")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"sources": digest, "classpath": cp[-1].strip()}, fh)
    return cp[-1].strip()


# ----------------------------------------------------------------- inputs

def _write_parquet(path, cols, schema):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table(cols, schema=schema), path)


def _triple_schema():
    import pyarrow as pa
    return pa.schema([("subject", pa.string()), ("predicate", pa.string()),
                      ("obj", pa.string()), ("objKind", pa.string()),
                      ("datatype", pa.string()), ("extractionMethod", pa.string()),
                      ("confidence", pa.float64()),
                      ("extractionTime", pa.timestamp("us", tz="UTC"))])


def _snapshot_schema():
    import pyarrow as pa
    ts = pa.timestamp("us", tz="UTC")
    return pa.schema([("modelId", pa.string()), ("author", pa.string()),
                      ("last_modified", ts), ("downloads", pa.int64()),
                      ("likes", pa.int64()), ("library_name", pa.string()),
                      ("tags", pa.list_(pa.string())), ("pipeline_tag", pa.string()),
                      ("createdAt", ts), ("card", pa.string())])


def _params(d, **kv):
    with open(os.path.join(d, "params.tsv"), "w") as fh:
        for k, v in kv.items():
            fh.write(f"{k}\t{v}\n")


def _lines(path, rows):
    with open(path, "w") as fh:
        for r in rows:
            fh.write(r + "\n")


def prepare_harvest_serve(seed, seconds, d):
    g = gen.Graph(f"serve-{seed}", SERVE["subjects"])
    versions = []
    for v, subs in enumerate(g.versions):
        ms = gen.epoch_ms(g.version_times[v])
        f = f"v{v + 1}.parquet"
        batch = [(s, t) for s in subs for (at, t) in g.history[s] if at == ms]
        _write_parquet(os.path.join(d, f), gen.triple_rows(batch, g.version_times[v]),
                       _triple_schema())
        versions.append(f"{ms}\t{f}")
    _lines(os.path.join(d, "versions.tsv"), versions)

    hv = gen.Harvest(seed, SERVE["batches"], SERVE["fresh"], SERVE["revisits"])
    warm = gen.Harvest(f"warmup-{seed}", 1, SERVE["fresh"] + SERVE["revisits"], 0)
    _write_parquet(os.path.join(d, "warmup.parquet"),
                   {k: [r[k] for r in warm.batches[0]] for k in _snapshot_schema().names},
                   _snapshot_schema())
    os.makedirs(os.path.join(d, "batches"))
    plan = []
    for b, batch in enumerate(hv.batches):
        f = f"batches/b{b:03d}.parquet"
        cols = {k: [r[k] for r in batch] for k in _snapshot_schema().names}
        _write_parquet(os.path.join(d, f), cols, _snapshot_schema())
        plan.append(f"batch\t{gen.epoch_ms(hv.batch_times[b])}\t\t{f}\t{len(batch)}")
    kept = {r["modelId"] for batch in hv.batches for r in batch if hv.kept(r["modelId"])}

    n_reads = max(12, round(seconds / SERVE["read_s"]))
    ops = gen.serve_plan(g, seed, n_reads, SERVE["trickles"], hv.batch_times[-1])
    expected, trickles = gen.expected_graph_results(g, ops, other_subjects=len(kept))
    for i, op in enumerate(ops):
        f = ""
        if i in trickles:
            f = f"t{i:04d}.parquet"
            _write_parquet(os.path.join(d, f), trickles[i], _triple_schema())
        plan.append("\t".join([op["kind"], str(op.get("ms", 0)),
                               ",".join(op.get("subjects", [])), f, ""]))
    _lines(os.path.join(d, "plan.tsv"), plan)

    last = len(hv.batches) - 1
    revisited = sorted({m for rev in hv.revisited for m in rev if hv.kept(m)})
    last_rev = sorted(m for m in hv.revisited[last] if hv.kept(m))
    asof_ms = gen.epoch_ms(hv.batch_times[last - 1] + timedelta(seconds=1))
    _lines(os.path.join(d, "check_current.txt"), [gen.subject_iri(m) for m in revisited])
    _lines(os.path.join(d, "check_asof.txt"),
           [str(asof_ms)] + [gen.subject_iri(m) for m in last_rev])
    _params(d, setups=SERVE["setups"], warmup_subject=g.subjects[0])
    return {
        "ops": [None] * len(hv.batches) + expected,
        "distinct_subjects": len(g.subjects) + len(kept),
        "current_license": {gen.subject_iri(m): hv.license_before(m, last) for m in revisited},
        "asof_license": {gen.subject_iri(m): hv.license_before(m, last - 1) for m in last_rev},
    }


def sweep_queries():
    """(query, module family) pairs of the sweep, in pass order."""
    with open(os.path.join(HERE, "sweep_queries.txt")) as fh:
        return [tuple(l.split()[:2]) for l in fh if l.strip() and not l.startswith("#")]


def prepare_sweep(_seed, _seconds, d):
    # The pass runs in the listed order whatever the seed: its memo builds
    # and first-query costs then land on the same queries in every run.
    _lines(os.path.join(d, "plan.tsv"), [f"{q}\t{f}" for q, f in sweep_queries()])
    _params(d, setups=SWEEP["setups"], data=os.path.join(HERE, "data", "sf0.01"))
    with open(os.path.join(HERE, "expected_rows.json")) as fh:
        return {"rows": json.load(fh)}


PREPARE = {"harvest_serve": prepare_harvest_serve, "query_sweep": prepare_sweep}


# ------------------------------------------------------------------ checks

def check(workload, res, exp):
    """(attempted, failed, notes): every operation is attempted once; an
    operation fails when it raised or its result differs from the
    generator's model. Each correctness read of harvest_serve counts as
    one more operation."""
    notes = []
    if workload == "harvest_serve":
        checks = [(f"op {i} {op['kind']}", op["digest"], want)
                  for i, (op, want) in enumerate(zip(res["ops"], exp["ops"]))
                  if want is not None]
        cur = dict(res["current_license"]) if res["current_license"] else {}
        old = dict(res["asof_license"]) if res["asof_license"] else {}
        extra = [("distinct subjects", res["distinct_subjects"], exp["distinct_subjects"])]
        extra += [(f"license {s[-12:]}", cur.get(s), [lic])
                  for s, lic in exp["current_license"].items()]
        extra += [(f"as-of license {s[-12:]}", old.get(s), [lic])
                  for s, lic in exp["asof_license"].items()]
        failed = 0
        for name, got, want in checks + extra:
            if got != want:
                failed += 1
                notes.append(f"{name}: got {str(got)[:40]}, want {str(want)[:40]}")
        return len(res["ops"]) + len(extra), failed, notes
    failed = 0
    for op in res["ops"]:
        want = exp["rows"].get(op["query"])
        if op["rows"] < 0 or op["rows"] != want:
            failed += 1
            notes.append(f"{op['query']}: {op['rows']} rows, want {want}")
    return len(res["ops"]), failed, notes


# ----------------------------------------------------------------- metrics

READS = ("lookup", "asof", "pivot", "scan")


def end_to_end(workload, res):
    """The gated end-to-end metrics, defined for every workload, plus the
    workload's own detail metrics (printed, not gated). An operation is a
    read of the serving loop on harvest_serve and a query on query_sweep."""
    by = {}
    for o in res["ops"]:
        by.setdefault(o.get("kind", "query"), []).append(o["s"])
    op_s = [x for k in READS for x in by.get(k, [])] or by["query"]
    e2e = {
        "setup_s": (stats.median(res["setup_s"]), "s"),
        "work_s": (res["work_s"], "s"),
        "op_p50_ms": (stats.median(op_s) * 1000, "ms"),
    }
    detail = {"peak_rss_mb": (res["peak_rss_mb"], "MB")}
    if workload == "harvest_serve":
        batch_s = by["batch"]
        cards = sum(o["cards"] for o in res["ops"])
        detail["ingest_cards_per_s"] = (cards / sum(batch_s), "1/s")
        detail["batch_p50_s"] = (stats.median(batch_s), "s")
        detail["read_ops_per_s"] = (len(op_s) / sum(op_s), "1/s")
        for k in READS:
            if by.get(k):
                detail[f"{k}_p50_ms"] = (stats.median(by[k]) * 1000, "ms")
        t = stats.tail(op_s)
        if t:
            detail["read_tail_ms"] = (t[0] * 1000, f"ms@p{t[1]:.0f}/n={t[2]}")
        detail["trickle_merge_p50_s"] = (stats.median(by["trickle"]), "s")
        detail["store_bytes_per_triple"] = (res["store_bytes"] / res["current_triples"], "B")
    else:
        detail["sweep_s"] = (res["work_s"], "s")
        for o in res["ops"]:
            detail[o["query"] + "_s"] = (o["s"], "s")
    return e2e, detail


PER_LAYER_FIXED = [
    ("extract.s", "s"), ("extract.kept_ratio", "ratio"), ("extract.rows_out", "count"),
    ("extract.jobs", "count"), ("extract.tasks", "count"), ("extract.cpu_s", "s"),
    ("transform.s", "s"), ("transform.triples_out", "count"), ("transform.pivot_s", "s"),
    ("load.merge_s", "s"), ("load.merge.jobs", "count"), ("load.merge.tasks", "count"),
    ("load.merge.cpu_s", "s"), ("load.merge.shuffle_mb", "MB"),
    ("load.merge.driver_gap_s", "s"), ("load.merge_new", "count"),
    ("load.merge_extended", "count"), ("load.merge_deprecated", "count"),
    ("load.compact_s", "s"), ("load.compactions", "count"),
    ("load.bytes_written_mb", "MB"), ("load.write_amp", "ratio"),
    ("load.levels_max", "count"), ("load.lookup_s", "s"), ("load.lookup.jobs", "count"),
    ("load.lookup.tasks", "count"), ("load.lookup.driver_gap_s", "s"),
    ("load.lookup_rows_read_per_row", "ratio"), ("load.asof_s", "s"), ("load.scan_s", "s"),
    ("queries.s", "s"), ("queries.jobs", "count"), ("queries.tasks", "count"),
    ("queries.driver_gap_s", "s"), ("queries.memo_builds", "count"),
    ("queries.memo_hits", "count"),
]


def per_layer_names():
    out = list(PER_LAYER_FIXED)
    for f in dict.fromkeys(f for _q, f in sweep_queries()):
        out += [(f"queries.{f}.s", "s"), (f"queries.{f}.jobs", "count")]
    return out


def per_layer(res):
    """Aggregate the traced run's spans (with their attributed jobs) into
    the per-layer metrics. Layers a workload does not exercise read 0."""
    spans, jobs = res["spans"], res["jobs"]
    owned = stats.attribute(spans, jobs)
    m = {name: 0.0 for name, _ in per_layer_names()}
    mb = 1024.0 * 1024.0
    merge_bytes = compact_bytes = 0
    lookup_in = lookup_rows = 0
    cards = kept = 0
    for s, js in zip(spans, owned):
        n = s["name"]
        tasks = sum(j["tasks"] for j in js)
        cpu = sum(j["cpu_s"] for j in js)
        gap = stats.driver_gap(s, js)
        if n == "extract":
            m["extract.s"] += s["s"]
            m["extract.rows_out"] += s["rows_out"]
            m["extract.jobs"] += len(js)
            m["extract.tasks"] += tasks
            m["extract.cpu_s"] += cpu
            cards += s["cards"]
            kept += s["kept"]
        elif n == "transform":
            m["transform.s"] += s["s"]
            m["transform.triples_out"] += s["triples_out"]
        elif n == "transform.pivot":
            m["transform.pivot_s"] += s["s"]
        elif n == "load.merge":
            # A merge that auto-compacted commits its delta first (its
            # first writing job); everything after that commit is the
            # compaction.
            writes = [j for j in js if j["output_bytes"] > 0]
            cut = s["end_ms"]
            if s["levels_after"] <= s["levels_before"] and writes:
                cut = min(writes, key=lambda j: j["start_ms"])["end_ms"]
            comp = [j for j in js if j["start_ms"] > cut]
            merge_js = [j for j in js if j["start_ms"] <= cut]
            compact_s = (s["end_ms"] - cut) / 1000.0
            m["load.merge_s"] += s["s"] - compact_s
            m["load.compact_s"] += compact_s
            m["load.compactions"] += 1 if comp else 0
            m["load.merge.jobs"] += len(merge_js)
            m["load.merge.tasks"] += sum(j["tasks"] for j in merge_js)
            m["load.merge.cpu_s"] += sum(j["cpu_s"] for j in merge_js)
            m["load.merge.shuffle_mb"] += sum(j["shuffle_bytes"] for j in merge_js) / mb
            gap_span = dict(s, end_ms=cut)
            m["load.merge.driver_gap_s"] += stats.driver_gap(gap_span, merge_js)
            m["load.merge_new"] += s["new"]
            m["load.merge_extended"] += s["extended"]
            m["load.merge_deprecated"] += s["deprecated"]
            m["load.levels_max"] = max(m["load.levels_max"], s["levels_before"] + 1)
            merge_bytes += sum(j["output_bytes"] for j in merge_js)
            compact_bytes += sum(j["output_bytes"] for j in comp)
        elif n == "load.lookup":
            m["load.lookup_s"] += s["s"]
            m["load.lookup.jobs"] += len(js)
            m["load.lookup.tasks"] += tasks
            m["load.lookup.driver_gap_s"] += gap
            lookup_in += sum(j["input_records"] for j in js)
            lookup_rows += s["rows"]
        elif n == "load.asof":
            m["load.asof_s"] += s["s"]
        elif n == "load.scan":
            m["load.scan_s"] += s["s"]
        elif n.startswith("queries."):
            fam = n.split(".", 1)[1]
            m["queries.s"] += s["s"]
            m["queries.jobs"] += len(js)
            m["queries.tasks"] += tasks
            m["queries.driver_gap_s"] += gap
            m["queries.memo_builds"] += s["memo_builds"]
            m["queries.memo_hits"] += s["memo_hits"]
            m[f"queries.{fam}.s"] = m.get(f"queries.{fam}.s", 0.0) + s["s"]
            m[f"queries.{fam}.jobs"] = m.get(f"queries.{fam}.jobs", 0.0) + len(js)
    m["extract.kept_ratio"] = kept / cards if cards else 0.0
    m["load.bytes_written_mb"] = (merge_bytes + compact_bytes) / mb
    m["load.write_amp"] = (merge_bytes + compact_bytes) / merge_bytes if merge_bytes else 0.0
    m["load.lookup_rows_read_per_row"] = lookup_in / lookup_rows if lookup_rows else 0.0
    units = dict(per_layer_names())
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


# -------------------------------------------------------------------- run

def java_cmd(cp, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, "-Xmx3g", *opens, "-Dspark.ui.enabled=false",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "graft.perfbench.Harness", *args]


def run_jvm(cmd, cwd, deadline):
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: point it at the
    # run's own work directory too, so no run writes outside it.
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(cwd, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("harness exceeded the run deadline", 3)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    started = time.time()
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    ind, work = os.path.join(base, "in"), os.path.join(base, "work")
    for d in (ind, work, os.path.join(work, "tmp")):
        os.makedirs(d)
    try:
        exp = PREPARE[a.workload](a.seed, a.seconds, ind)
        log(f"inputs generated in {time.time() - started:.1f}s")
        out = os.path.join(base, "result.json")
        args = ["--workload", a.workload, "--in", ind, "--out", out, "--work", work,
                "--trace", str(a.trace), "--cpus", str(cpus)]
        rc = run_jvm(java_cmd(cp, args, work), work, started + DEADLINE_S)
        if rc != 0 or not os.path.exists(out):
            die(f"harness failed (exit {rc})", 3)
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(base))
        except OSError:
            pass  # another run's directory is still there

    attempted, failed, notes = check(a.workload, res, exp)
    for n in notes[:20]:
        log(f"CHECK FAILED {n}")
    e2e, detail = end_to_end(a.workload, res)
    log(f"set-up runs: {', '.join(f'{x:.2f}s' for x in res['setup_s'])}")
    for k, (v, u) in {**e2e, **detail}.items():
        print(f"{a.workload} {k} = {v:.6g} {u}")
    if a.trace:
        metrics = per_layer(res)
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        tpath = os.path.join(HERE, "traces", f"{a.workload}-seed{a.seed}.json")
        with open(tpath, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "end_to_end_traced": {k: v for k, (v, _u) in e2e.items()},
                       "detail_traced": {k: v for k, (v, _u) in detail.items()},
                       "per_layer": metrics, "spans": res["spans"], "jobs": res["jobs"]},
                      fh, indent=1)
        log(f"trace written to {os.path.relpath(tpath, ROOT)}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
