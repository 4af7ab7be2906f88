#!/usr/bin/env python3
"""Benchmark of the rides medallion engine: one command, three workloads.

    python3 perfbench/run.py --workload rides_stream --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.sh) into .bench_build/perfbench; later runs
reuse the build while the sources are unchanged. Each run launches one
JVM (perfbench/harness, local[4]) that drives the workload through the
engine's public entry points and records raw timings; this script turns
them into metrics, checks correctness, prints every metric by name and
unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(from Spark listener events recorded by the harness). See README.md.
Exit status: 0 when every operation passed its checks, 1 when any
failed, 2 when the benchmark could not run (no sources, build error).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import analysis as A  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("rides_stream", "query_battery")
RUN_LIMIT_S = 170
# a file not in gold this long after it was due has failed
REACH_LIMIT_MS = 30000
# a generator later than this on any publish invalidates the run
GEN_LATE_LIMIT_MS = 250
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
END_TO_END = (("setup_s", "s"), ("latency_ms", "ms"),
              ("throughput_per_s", "1/s"))
PER_LAYER = (("step.count", "count"), ("step.jobs", "count"),
             ("step.tasks", "count"), ("step.job_ms", "ms"),
             ("step.gap_ms", "ms"), ("step.shuffle_kb", "KiB"),
             ("step.skew", "ratio"), ("spans", "count"))


class BenchError(Exception):
    """The benchmark itself could not run; no result is printed."""


def read_json(path):
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# build

def source_files():
    out = []
    for top in ("src/main/scala", "perfbench/harness"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out) + [os.path.join(HERE, "build.sh")]


def build():
    """Compiles unless the class directory matches the sources; returns
    the sources' hash."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("no src/main/scala: nothing to benchmark")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = classes + ".sha256"
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return digest
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.call(["bash", os.path.join(HERE, "build.sh"), classes],
                             cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                             env=dict(os.environ, SPARK_HOME=spark_home()),
                             timeout=850)
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise BenchError("build failed (exit %d)" % rc)
    with open(stamp, "w") as f:
        f.write(digest)
    return digest


# ---------------------------------------------------------------------------
# the measured JVM

def spark_home():
    """$SPARK_HOME, else the first Spark install (a directory with jars/)
    whose bin/spark-submit is on the PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.exists(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise BenchError("no SPARK_HOME and no Spark install on the PATH")


def run_harness(args, work, extra, deadline):
    out = os.path.join(work, "record.json")
    jars = os.path.join(spark_home(), "jars")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", os.path.join(BUILD, "classes") + ":" + jars + "/*",
            "perfbench.Harness", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out] + extra
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    with open(log) as lf:
        text = lf.read()
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(text[-6000:])
        raise BenchError("harness exited with %s" % rc)
    sys.stderr.writelines(line + "\n" for line in text.splitlines()
                          if line.startswith("[perfbench]"))
    return read_json(out)


# ---------------------------------------------------------------------------
# traced runs: steps, spans, per-layer numbers

def step_metrics(steps, jobs_of, stages):
    """Generic per-step numbers. A step is a micro-batch of one layer
    (rides workloads) or one query call (query_battery); `jobs_of`
    maps a step key to the Spark jobs it ran."""
    rows = []
    skew = 1.0
    for key, start, end in steps:
        jobs = jobs_of.get(key, [])
        st = [stages[i] for j in jobs for i in j["stages"] if i in stages]
        covered = A.covered_ms([(j["start_ms"], j["end_ms"]) for j in jobs],
                               start, end)
        rows.append({
            "jobs": len(jobs), "tasks": sum(s["tasks"] for s in st),
            "job_ms": covered, "gap_ms": max(0.0, (end - start) - covered),
            "shuffle_kb": sum(s["shuffle_read_bytes"] + s["shuffle_write_bytes"]
                              for s in st) / 1024.0,
            "spill_bytes": sum(s["spill_bytes"] for s in st)})
        for s in st:
            if s["tasks"] >= 4 and s.get("task_ms_median"):
                skew = max(skew, s["task_ms_max"] / s["task_ms_median"])
    n = max(1, len(rows))
    out = {"step.count": len(rows), "step.skew": skew}
    for k in ("jobs", "tasks", "job_ms", "gap_ms", "shuffle_kb"):
        out["step." + k] = sum(r[k] for r in rows) / n
    return out, rows


def build_spans(run_id, workload_span, groups, jobs_of, stages):
    """Spans workload → [group →] step → job → stage. `groups` is a list
    of (name, start, end, steps) where steps are (key, name, start, end);
    a group named None puts its steps directly under the workload."""
    spans = [dict(workload_span, run=run_id, id="w", parent=None)]
    seen_stage = set()
    for gi, (gname, gstart, gend, steps) in enumerate(groups):
        parent = "w"
        if gname is not None:
            parent = "g%d" % gi
            spans.append({"run": run_id, "id": parent, "parent": "w",
                          "kind": "drain", "name": gname,
                          "start_ms": gstart, "end_ms": gend})
        for si, (key, name, start, end) in enumerate(steps):
            sid = "s%d.%d" % (gi, si)
            spans.append({"run": run_id, "id": sid, "parent": parent,
                          "kind": "step", "name": name,
                          "start_ms": start, "end_ms": end})
            for j in jobs_of.get(key, []):
                jid = "j%d" % j["id"]
                spans.append({"run": run_id, "id": jid, "parent": sid,
                              "kind": "job", "name": "job %d" % j["id"],
                              "start_ms": j["start_ms"],
                              "end_ms": j["end_ms"]})
                for i in j["stages"]:
                    s = stages.get(i)
                    if s is None or i in seen_stage or not s.get("end_ms"):
                        continue
                    seen_stage.add(i)
                    spans.append({"run": run_id, "id": "st%d" % i,
                                  "parent": jid, "kind": "stage",
                                  "name": "stage %d" % i,
                                  "start_ms": s["start_ms"],
                                  "end_ms": s["end_ms"]})
    return spans


def self_time_by_kind(spans):
    st = A.self_times(spans)
    out = {}
    for s in spans:
        out[s["kind"]] = out.get(s["kind"], 0.0) + st[s["id"]]
    return {k: round(v, 1) for k, v in out.items()}


def stream_jobs(trace):
    """Micro-batch jobs keyed by (query id, batch id)."""
    out = {}
    for j in trace["jobs"]:
        if j.get("query_id") is not None and j.get("batch_id") is not None:
            out.setdefault((j["query_id"], j["batch_id"]), []).append(j)
    return out


def layer_steps(trace, query_ids):
    """Micro-batch steps of the three layers, from the progress events
    the trace's StreamingQueryListener received."""
    steps = []
    for layer in ("bronze", "silver", "gold"):
        mine = [p for p in trace["progress"] if p["id"] == query_ids[layer]]
        for p in A.data_batches(mine):
            steps.append(((query_ids[layer], p["batchId"]),
                          "%s batch %d" % (layer, p["batchId"]),
                          A.batch_start_ms(p), A.batch_end_ms(p)))
    return steps


# ---------------------------------------------------------------------------
# workloads

def rides_layer_metrics(progress, named, units, prefix=""):
    for layer in ("bronze", "silver", "gold"):
        st = A.batch_stats(progress[layer])
        keys = [("batch_ms_p50", "ms"), ("plan_ms_p50", "ms"),
                ("offsets_ms_p50", "ms"), ("commit_ms_p50", "ms"),
                ("batches", "count")]
        if layer in ("silver", "gold"):
            keys += [("state_rows_max", "count"), ("state_bytes_max", "bytes")]
        if layer == "silver":
            keys += [("late_dropped", "count")]
        if layer == "gold":
            keys += [("addbatch_ms_p50", "ms")]
        for k, u in keys:
            named[prefix + layer + "." + k] = st[k]
            units[prefix + layer + "." + k] = u


def jobs_per_batch(trace, progress, query_ids, named, units, prefix=""):
    jobs = stream_jobs(trace)
    for layer in ("bronze", "silver", "gold"):
        keys = [(query_ids[layer], p["batchId"])
                for p in A.data_batches(progress[layer])]
        if keys:
            name = prefix + layer + ".jobs_per_batch"
            named[name] = sum(len(jobs.get(k, [])) for k in keys) / len(keys)
            units[name] = "count"


def rides_stream(raw, trace):
    files = raw["files"]
    rows = [f["rows"] for f in files]
    prog = raw["progress"]
    commits = {c["batch_id"]: c["wall_ms"] for c in raw["gold_commits"]}
    named, units, notes = {}, {}, []
    try:
        att = A.attribute(rows, prog["silver"], prog["gold"], commits)
    except A.AttributionError as e:
        notes.append("invalid: %s" % e)
        att = [None] * len(files)
    bronze = A.bronze_batches(rows, prog["bronze"])
    lat, late, reached_rows, reach_times = [], [], 0, []
    waits = {"bronze": [], "silver": [], "gold": []}
    failed = 0
    timed = [(f, a, b) for f, a, b in zip(files, att, bronze) if not f["warm"]]
    for f, a, b in timed:
        late.append(f["pub_ms"] - f["due_ms"])
        if a is None or a["reach_ms"] - f["due_ms"] > REACH_LIMIT_MS:
            failed += 1
            continue
        lat.append(a["reach_ms"] - f["due_ms"])
        reached_rows += f["rows"]
        reach_times.append(a["reach_ms"])
        if b is not None:
            waits["bronze"].append(max(0.0, b[0] - f["pub_ms"]))
            waits["silver"].append(max(0.0, a["silver_start_ms"] - b[1]))
        if a["gold_start_ms"] is not None:
            waits["gold"].append(max(0.0, a["gold_start_ms"] -
                                     a["silver_end_ms"]))
    named["files"] = len(timed)
    units["files"] = "count"
    if lat:
        named["e2e_p50_ms"] = A.median(lat)
        named["e2e_p90_ms"] = A.percentile(lat, 90)
        units["e2e_p50_ms"] = units["e2e_p90_ms"] = "ms"
        tail = A.tail_percentile(lat)
        if tail:
            named["e2e_tail_ms"] = tail[1]
            units["e2e_tail_ms"] = "ms"
            notes.append("e2e_tail_ms is p%g with %d samples beyond it"
                         % (tail[0], tail[2]))
    named["gen.late_ms_max"] = max(late)
    named["gen.late_ms_p99"] = A.percentile(late, 99)
    units["gen.late_ms_max"] = units["gen.late_ms_p99"] = "ms"
    if max(late) > GEN_LATE_LIMIT_MS:
        notes.append("invalid: generator ran %d ms late" % max(late))
    for layer, w in waits.items():
        named[layer + ".wait_ms_p50"] = A.median(w)
        units[layer + ".wait_ms_p50"] = "ms"
    rides_layer_metrics(prog, named, units)
    named["gold.commits"] = len(commits)
    named["gold.table_files"] = raw["gold_table_files"]
    units["gold.commits"] = units["gold.table_files"] = "count"
    first_due = min(f["due_ms"] for f, _, _ in timed)
    e2e = {}
    if lat:
        e2e = {"latency_ms": named["e2e_p50_ms"],
               "throughput_per_s": reached_rows /
               ((max(reach_times) - first_due) / 1000.0)}
    result = {"attempted": len(timed), "failed": failed, "named": named,
              "units": units, "notes": notes, "e2e": e2e, "samples": lat,
              "correct": raw["checks"]["ok"] and raw["drained"] and
              not any(n.startswith("invalid") for n in notes)}
    if trace:
        steps = [s for s in layer_steps(trace, raw["query_ids"])
                 if s[2] >= raw["first_op_ms"]]
        jobs_per_batch(trace, prog, raw["query_ids"], named, units)
        result["steps"] = [(k, s, e) for k, _, s, e in steps]
        result["jobs_of"] = stream_jobs(trace)
        result["groups"] = [(None, None, None, steps)]
        result["window"] = (raw["first_op_ms"], raw["end_ms"])
        # the drain's three layer drains are three more operations
        ok = drain_metrics(raw["drain"], trace, named, units, notes,
                           result["groups"])
        result["attempted"] += 3
        result["failed"] += 0 if ok else 3
        result["correct"] = result["correct"] and ok
        result["window"] = (raw["first_op_ms"], result["groups"][-1][2])
    return result


def drain_metrics(dr, trace, named, units, notes, groups):
    """Numbers of the traced run's backlog drain, all prefixed `drain.`;
    appends its layer drains to the span `groups`. Returns whether the
    drain passed its checks."""
    d = dr["drain"]
    prog = d["progress"]
    commits = {c["batch_id"]: c["wall_ms"] for c in d["gold_commits"]}
    per_file = dr["events"] // dr["files"]
    try:
        att = A.attribute([per_file] * dr["files"], prog["silver"],
                          prog["gold"], commits)
    except A.AttributionError as e:
        notes.append("invalid drain: %s" % e)
        att = [None] * dr["files"]
    lat = [a["reach_ms"] - d["start_ms"] for a in att if a is not None]
    if lat:
        named["drain.e2e_p50_ms"] = A.median(lat)
        named["drain.e2e_p90_ms"] = A.percentile(lat, 90)
        units["drain.e2e_p50_ms"] = units["drain.e2e_p90_ms"] = "ms"
    named["drain_events_per_s"] = dr["events"] / d["total_s"]
    one = dr["one_core"]
    named["drain.events_per_s_1core"] = one["events"] / one["total_s"]
    units["drain_events_per_s"] = units["drain.events_per_s_1core"] = "1/s"
    for layer in ("bronze", "silver", "gold"):
        named["drain.%s_s" % layer] = d["layer_s"][layer]
        units["drain.%s_s" % layer] = "s"
    rides_layer_metrics(prog, named, units, "drain.")
    jobs_per_batch(trace, prog, d["query_ids"], named, units, "drain.")
    begin = d["start_ms"]
    end = begin
    for layer in ("bronze", "silver", "gold"):
        end += d["layer_s"][layer] * 1000.0
        steps = [s for s in layer_steps(trace, d["query_ids"])
                 if s[1].startswith(layer)]
        groups.append(("drain " + layer, begin, end, steps))
        begin = end
    return dr["checks"]["ok"] and len(lat) == dr["files"]


def query_battery(raw, trace, stages, spec, digests):
    named, units, notes = {}, {}, []
    rule = {"families": spec["families"], "rest": spec["rest"]}
    fam = {}
    for n in raw["catalog"]:
        fam[n] = A.family_of(n, rule)
    missing = [f for f in list(spec["families"]) + [spec["rest"]]
               if f not in fam.values()]
    if missing:
        raise BenchError("families with no catalog query: %s" % missing)
    calls = raw["calls"]
    by_q = {}
    failed = sum(1 for c in calls if not c["ok"])
    for c in calls:
        if c["ok"]:
            by_q.setdefault(c["name"], []).append(c)
    for q, dg in raw["digests"].items():
        want = digests.get(q)
        dg = {"rows": dg["rows"], "hash": dg["hash"]}
        if want != dg:
            failed += 1
            notes.append("digest mismatch on %s: %s != %s" % (q, dg, want))
    med = {q: A.median([c["ms"] for c in cs]) for q, cs in by_q.items()}
    named["battery_s"] = sum(med.values()) / 1000.0
    units["battery_s"] = "s"
    families = list(spec["families"]) + [spec["rest"]]
    for f in families:
        named[f + "_s"] = sum(v for q, v in med.items()
                              if A.family_of(q, rule) == f) / 1000.0
        units[f + "_s"] = "s"
    for q, dg in raw["digests"].items():
        named["warm." + q + "_s"] = dg["warm_s"]
        units["warm." + q + "_s"] = "s"
    named["passes"] = raw["passes"]
    units["passes"] = "count"
    named["call_ms_mean"] = 1000.0 * named["battery_s"] / max(1, len(med))
    units["call_ms_mean"] = "ms"
    e2e = {"latency_ms": named["call_ms_mean"],
           "throughput_per_s": len(med) / named["battery_s"]}
    result = {"attempted": len(calls), "failed": failed, "named": named,
              "units": units, "notes": notes, "e2e": e2e,
              "correct": failed == 0 and len(med) == len(spec["queries"])}
    if trace:
        jobs_of = {}
        for j in trace["jobs"]:
            if j.get("group"):
                jobs_of.setdefault(j["group"], []).append(j)
        steps = [(c["group"], c["name"], c["start_ms"], c["end_ms"])
                 for c in calls]
        _, rows = step_metrics([(k, s, e) for k, _, s, e in steps],
                               jobs_of, stages)
        per_q = {}
        for c, r in zip(calls, rows):
            r = dict(r, construct_ms=c["construct_ms"] or 0.0,
                     exec_ms=c["ms"] - (c["construct_ms"] or 0.0))
            per_q.setdefault(c["name"], []).append(r)
        for f in families:
            qs = [q for q in per_q if A.family_of(q, rule) == f]
            if not qs:
                continue

            def fsum(k):
                return sum(A.median([r[k] for r in per_q[q]]) for q in qs)
            named[f + ".construct_s"] = fsum("construct_ms") / 1000.0
            named[f + ".exec_s"] = fsum("exec_ms") / 1000.0
            named[f + ".driver_gap_s"] = fsum("gap_ms") / 1000.0
            named[f + ".jobs"] = fsum("jobs")
            named[f + ".tasks"] = fsum("tasks")
            named[f + ".shuffle_bytes"] = fsum("shuffle_kb") * 1024.0
            named[f + ".spill_bytes"] = fsum("spill_bytes")
            fstages = [stages[i] for c in calls
                       if A.family_of(c["name"], rule) == f
                       for j in jobs_of.get(c["group"], [])
                       for i in j["stages"] if i in stages]
            named[f + ".skew"] = max(
                [s["task_ms_max"] / s["task_ms_median"] for s in fstages
                 if s["tasks"] >= 4 and s.get("task_ms_median")] or [1.0])
            for k, u in (("construct_s", "s"), ("exec_s", "s"),
                         ("driver_gap_s", "s"), ("jobs", "count"),
                         ("tasks", "count"), ("shuffle_bytes", "bytes"),
                         ("spill_bytes", "bytes"), ("skew", "ratio")):
                units[f + "." + k] = u
        result["steps"] = [(k, s, e) for k, _, s, e in steps]
        result["jobs_of"] = jobs_of
        result["groups"] = [(None, None, None, steps)]
        result["window"] = (raw["first_op_ms"], calls[-1]["end_ms"])
    return result


# ---------------------------------------------------------------------------

def git_rev():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-digests", action="store_true",
                    help="record the battery's output digests as the "
                         "expected ones (maintainers only)")
    args = ap.parse_args()
    started = time.time()
    src_hash = build()
    setup_begin = time.time()
    deadline = setup_begin + RUN_LIMIT_S
    spec = read_json(os.path.join(HERE, "battery.json"))
    extra = []
    if args.workload == "query_battery":
        extra = ["--data", os.path.join(ROOT, spec["data"]),
                 "--queries", ",".join(spec["queries"])]
        if args.write_digests:
            extra += ["--digests-only", "1"]
    work = os.path.join(BUILD, "work", "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_harness(args, work, extra, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.write_digests:
        with open(os.path.join(HERE, "digests.json"), "w") as f:
            json.dump({q: {"rows": d["rows"], "hash": d["hash"]}
                       for q, d in raw["digests"].items()},
                      f, indent=1, sort_keys=True)
            f.write("\n")
        return 0
    trace = raw.get("trace")
    stages = {s["id"]: s for s in trace["stages"]} if trace else {}
    if args.workload == "rides_stream":
        res = rides_stream(raw, trace)
    else:
        res = query_battery(raw, trace, stages, spec,
                            read_json(os.path.join(HERE, "digests.json")))
    named, units = res["named"], res["units"]

    # set-up: launch to session, input staging (from the median of its
    # separately timed parts), warm-up
    setup_s = ((raw["session_ready_ms"] / 1000.0 - setup_begin) +
               raw["stage_s"] + raw["warmup_s"])
    named["setup_s"] = setup_s
    units["setup_s"] = "s"
    named["failed_frac"] = res["failed"] / max(1, res["attempted"])
    units["failed_frac"] = "1"
    e2e = dict(res["e2e"], setup_s=setup_s)

    host = {"nproc": os.cpu_count(), "java": raw["java_version"],
            "spark": raw["spark_version"], "git_rev": git_rev(),
            "src_sha256": src_hash, "loadavg_start": raw["loadavg_start"],
            "loadavg_end": raw["loadavg_end"],
            "loadavg_workload": raw["loadavg_workload"],
            "gen_late_ms_max": named.get("gen.late_ms_max")}
    details = {"workload": args.workload, "seed": args.seed,
               "trace": args.trace, "host": host, "notes": res["notes"],
               "setup_parts_s": {
                   "launch": raw["session_ready_ms"] / 1000.0 - setup_begin,
                   "stage": raw["stage_s"],
                   "stage_parts": raw["stage_parts_s"],
                   "warmup": raw["warmup_s"]}}
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    last_untraced = os.path.join(results, args.workload + ".untraced.json")
    layer = {}
    if trace:
        run_id = "%s-%d-%d" % (args.workload, args.seed, int(started))
        layer, _ = step_metrics(res["steps"], res["jobs_of"], stages)
        win = res["window"]
        spans = build_spans(run_id, {"kind": "workload",
                                     "name": args.workload,
                                     "start_ms": win[0], "end_ms": win[1]},
                            res["groups"], res["jobs_of"], stages)
        layer["spans"] = len(spans)
        named.update(layer)
        for k, u in PER_LAYER:
            units[k] = u
        details["self_ms_by_kind"] = self_time_by_kind(spans)
        span_file = os.path.join(results, run_id + ".spans.jsonl")
        with open(span_file, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        details["span_file"] = os.path.relpath(span_file, ROOT)
        if os.path.exists(last_untraced):
            base = read_json(last_untraced)
            details["trace_overhead"] = {
                k: e2e[k] / base[k] for k in e2e if base.get(k)}
    elif res["correct"]:
        with open(last_untraced, "w") as f:
            json.dump(e2e, f)
    if "samples" in res:
        details["latency_samples_ms"] = res["samples"]
    details["metrics"] = {k: {"value": v, "unit": units.get(k, "")}
                          for k, v in sorted(named.items()) if v is not None}
    with open(os.path.join(results, "%s-seed%d-trace%d.json" % (
            args.workload, args.seed, args.trace)), "w") as f:
        json.dump(details, f, indent=1)

    for k, v in sorted(named.items()):
        if v is not None:
            print("%-34s %14.4f %s" % (k, v, units.get(k, "")))
    print("details " + json.dumps({k: v for k, v in details.items()
                                   if k != "metrics"}))
    wanted = END_TO_END if args.trace == 0 else PER_LAYER
    source = e2e if args.trace == 0 else layer
    correct = bool(res["correct"]) and all(k in source for k, _ in wanted)
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": source[k], "unit": u}
                    for k, u in wanted if k in source}}))
    return 0 if correct and res["failed"] == 0 else 1


if __name__ == "__main__":
    # a terminated run still stops its JVM (run_harness's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except BenchError as e:
        sys.stderr.write("perfbench: %s\n" % e)
        sys.exit(2)
