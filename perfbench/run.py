"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. It builds the engine and the
benchmark harness from source (see build.py), generates the workload's
inputs from the seed (gen.py), runs the harness in one JVM against graft's
public API, checks the outputs against the generator's expectations, and
prints a readable report followed by one JSON line:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` they are its per-layer metrics. The exit
code is non-zero when a correctness check fails.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

ROOT = os.getcwd()
DEADLINE_S = 170  # a run must end within 180 s, building aside

# Workload sizes. Every input fits in RAM and the page cache, so disk
# numbers are the host's page cache, not a device.
INGEST_DOCS = 80       # inbox of one ingest call
WARM_DOCS = 4          # set-up warm-up ingest
STREAM_UPLOADS = 6     # traced run only: uploads through the streaming ingest
CURATE_DOCS = 120
SETUP_REPS = 3
# read-back of one ingest_bulk iteration: requests per route. No published
# traffic shape exists for this API, so every route gets the same count
# and the same weight in the read latency (the mean of the per-route
# medians); one seed's route order therefore does not move the metric
ROUTES = ["get_document", "get_chunks", "list_page", "chart_image"]
READS_PER_ROUTE = 2


def workload_inputs(name, seed, seconds, work):
    """Generate the seeded inputs; returns (plan entries, expectations)."""
    plan, expect = {}, {}
    if name == "ingest_bulk":
        docs = gen.corpus(seed, INGEST_DOCS, "doc")
        warm = gen.corpus(seed, WARM_DOCS, "warm")
        ups = gen.corpus(seed, STREAM_UPLOADS, "up", pages=(1, 2), charts=(0, 2))
        gen.write_docs(docs, os.path.join(work, "inbox"))
        gen.write_docs(warm, os.path.join(work, "warm"))
        gen.write_docs(ups, os.path.join(work, "uploads"))
        _tsv(os.path.join(work, "expect.tsv"),
             [(d.name, d.chunks, d.charts) for d in docs])
        _tsv(os.path.join(work, "uploads.tsv"),
             [(d.name, os.path.join(work, "uploads", d.name)) for d in ups])
        expect = gen.totals(docs)
        plan.update(inbox=os.path.join(work, "inbox"), warm=os.path.join(work, "warm"),
                    expect=os.path.join(work, "expect.tsv"),
                    uploads=os.path.join(work, "uploads.tsv"), upload_rate=1.0,
                    reads_per_route=READS_PER_ROUTE,
                    input_bytes=expect["bytes"], etl_sample=40)
    elif name == "curate_export":
        # no chart markers: the curation path never touches charts
        docs = gen.corpus(seed, CURATE_DOCS, "cur", dup_share=0.15, junk_share=0.06,
                          charts=(0, 0), min_tokens=100)
        gen.write_docs(docs, os.path.join(work, "corpus"))
        # each document's planted role and group: a near-duplicate and its
        # source share a group, of which the export keeps exactly one
        _tsv(os.path.join(work, "roles.tsv"),
             [(d.name, "junk" if d.junk else "dup" if d.dup_of else "orig",
               d.dup_of or d.name) for d in docs])
        expect = gen.totals(docs)
        plan.update(corpus=os.path.join(work, "corpus"),
                    roles=os.path.join(work, "roles.tsv"),
                    input_bytes=expect["bytes"])
    else:
        raise SystemExit("perfbench: unknown workload %r" % name)
    return plan, expect


def _tsv(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")


def run_harness(classes, jars, plan_path, work, deadline):
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every scratch location points into the run's work directory, the
    # per-user caches under the home directory (fonts, native libraries) too
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Duser.home=" + os.path.join(work, "home"),
           "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
           "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "hadoop-tmp"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in build.ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", plan_path]
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    return rc, log_path


def evaluate(name, res, expect, input_bytes):
    """(checks, end-to-end metrics, report rows) of one run's raw result."""
    checks = [(c["name"], c["ok"], c.get("detail", "")) for c in res["checks"]]
    e2e, report = {}, []

    def add(metric, value, unit, n, label=None):
        e2e[metric] = value
        report.append((label or metric, value, unit, n))

    e2e["setup_s"] = M.median(res["setup_s"])
    e2e["heap_retained_mb"] = res["heap_retained_mb"]
    report.append(("setup_s", e2e["setup_s"], "s", len(res["setup_s"])))
    report.append(("heap_retained_mb", e2e["heap_retained_mb"], "MB", 1))
    report.append(("session_s", res["session_s"], "s", 1))
    report.append(("setup_all_s", sum(res["setup_s"]), "s", len(res["setup_s"])))
    if name == "ingest_bulk":
        calls = [c for c in res["calls"] if not c["traced"]] or res["calls"]
        n = expect["documents"]
        for i, c in enumerate(res["calls"]):
            want = (n, expect["chunks"], expect["charts"])
            got = (c["documents"], c["chunks"], c["charts"])
            checks.append(("call %d IngestStats match the generator" % i, got == want,
                           "got %s, want %s" % (got, want)))
            checks.append(("call %d blob count equals charts" % i,
                           c["blobs"] == expect["charts"],
                           "%d blobs, %d charts" % (c["blobs"], expect["charts"])))
            dense = (c["id_min"], c["id_max"], c["id_count"], c["id_distinct"]) == (1, n, n, n)
            checks.append(("call %d document ids are dense 1..n" % i, dense,
                           "min %d max %d count %d distinct %d" % (
                               c["id_min"], c["id_max"], c["id_count"], c["id_distinct"])))
        walls = [c["wall_s"] for c in calls]
        add("throughput_per_s", M.median([n / w for w in walls]), "1/s", len(walls),
            "ingest_docs_per_s")
        reads = res["reads"]
        per_route = {rt: [r["ms"] for r in reads if r["route"] == rt] for rt in ROUTES}
        for rt, xs in per_route.items():
            report.append((rt + "_p50_ms", M.median(xs), "ms", len(xs)))
        add("op_p50_ms", M.mean([M.median(per_route[rt]) for rt in ROUTES]), "ms",
            len(reads), "read_p50_ms (mean of the route medians)")
        lat = [r["ms"] for r in reads]
        report.append(("read_p50_ms (pooled)", M.percentile(lat, 50), "ms", len(lat)))
        if M.tail(lat, 90) is not None:
            report.append(("read_p90_ms", M.tail(lat, 90), "ms", len(lat)))
        report.append(("ingest_call_p50_s", M.median(walls), "s", len(walls)))
        report.append(("ingest_call_max_s", max(walls), "s", len(walls)))
        add("stored_bytes_per_input_byte",
            M.median([c["stored_bytes"] for c in calls]) / input_bytes, "ratio", len(calls))
    elif name == "curate_export":
        passes = [p for p in res["passes"] if not p["traced"] and not p["warmup"]]
        report.append(("warmup_pass_s", res["passes"][0]["wall_s"], "s", 1))
        n = res["documents"]
        checks.append(("corpus stored with the generator's document count",
                       n == expect["documents"], "%d stored, %d generated"
                       % (n, expect["documents"])))
        walls = [p["wall_s"] for p in passes]
        add("throughput_per_s", M.median([n / w for w in walls]), "1/s", len(walls),
            "curate_docs_per_s")
        add("op_p50_ms", M.median(walls) * 1e3, "ms", len(walls), "curate_pass_p50_ms")
        add("stored_bytes_per_input_byte",
            (res["stored_bytes"] + M.median([p["export_bytes"] for p in passes])) / input_bytes,
            "ratio", len(passes))
    return checks, e2e, report


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.stderr.write("perfbench: run from the root of a graft checkout "
                         "(src/main/scala not found)\n")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.stderr.write("perfbench: unknown workload %r\n" % a.workload)
        return 2
    classes, jars = build.build()
    # the first run in a checkout also compiles; the run's own budget
    # starts after the build
    deadline = time.time() + DEADLINE_S - min(30, time.time() - started)
    work = os.path.join(ROOT, ".bench_work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        plan, expect = workload_inputs(a.workload, a.seed, a.seconds, work)
        # setup_s is an end-to-end metric: a traced run sets up once
        plan.update(workload=a.workload, seed=a.seed, seconds=a.seconds,
                    trace=a.trace, work=work, result=os.path.join(work, "result.json"),
                    setup_reps=1 if a.trace else SETUP_REPS)
        plan_path = os.path.join(work, "plan.properties")
        with open(plan_path, "w") as f:
            for k, v in plan.items():
                f.write("%s=%s\n" % (k, str(v).replace("\\", "\\\\")))
        rc, log_path = run_harness(classes, jars, plan_path, work, deadline)
        if rc != 0 or not os.path.exists(plan["result"]):
            with open(log_path, "rb") as f:
                sys.stderr.write(f.read()[-6000:].decode("utf-8", "replace"))
            sys.stderr.write("perfbench: harness failed (%s)\n" % rc)
            return 1
        with open(plan["result"]) as f:
            res = json.load(f)
        return emit(a, spec, res, expect, plan["input_bytes"])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def emit(a, spec, res, expect, input_bytes):
    """Print the report and the result line; returns the exit code."""
    checks, e2e, rows = evaluate(a.workload, res, expect, float(input_bytes))
    attempted, failed = res["attempted"], res["failed"]
    print("workload %s seed %d seconds %g trace %d" % (a.workload, a.seed, a.seconds, a.trace))
    for n, ok, detail in checks:
        if not ok:
            print("CHECK FAILED  %s: %s" % (n, detail))
    for e in res["errors"]:
        print("error  %s" % e)
    print("error_rate = %.6f ratio (failed %d of %d attempted)"
          % (failed / float(max(1, attempted)), failed, attempted))
    for n, v, unit, count in rows:
        print("%s = %.6g %s (n=%d)" % (n, v, unit, count))
    correct = all(ok for _, ok, _ in checks) and failed == 0
    if a.trace:
        layers = dict(res["layers"])
        for s, v in M.self_time_by_name(res["spans"]).items():
            layers.setdefault("self." + s, v / 1e9)
        for n in sorted(layers):
            print("layer %s = %.6g" % (n, layers[n]))
        out = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec["per_layer"]}
    else:
        out = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
               for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
