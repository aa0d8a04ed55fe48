"""The benchmark: one command over the paper's three stages.

    python3 perfbench/run.py --workload <catalog|tweet_stream>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) and caches the classpath under
.perfbench_work/; later runs reuse it while the sources are unchanged.
Each run then generates its inputs from the seed (gen.py), runs one JVM on
local[4] (perfbench.Main), checks the outputs, and prints every metric by
name with its unit. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (and the spans
go to .perfbench_work/last_spans_<workload>.jsonl).

    python3 perfbench/run.py --record-digests

re-records expected_digests.json: it runs the catalog entries once, checks
every oracle-bearing entry against its DuckDB oracle SQL over the same
fixture, and stores the digests the catalog workload compares against.
README.md documents the workloads, metrics and the layer map.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("catalog", "tweet_stream")
# A run is invalid, not slow, when its generator released a file this late.
GEN_LATE_LIMIT_MS = 500
TICK_MS = 100
# A run must exit within 180 s; the JVM gets what is left.
DEADLINE_S = 170

# The catalog entries the workload runs, with the operator family each one
# calls (the `operators.<family>_s` layer metrics). A pass over all 213
# registered entries takes 75 s at this fixture size on 4 cores, and its
# warm-up pass 190 s, past the 180 s a run may take. These 15 cover every
# family, the minhash, quantized-ADC and BM25 paths, and light entries that
# are bound by per-job fixed cost. Three passes of 15 give the 45 samples a
# p75 tail needs.
CATALOG = [
    ("groupby_text_count", "reference"), ("sanitize_projection", "reference"),
    ("lang_filter_fr", "reference"),
    ("q1_pricing_summary", "relational"), ("q3_top_revenue", "relational"),
    ("user_sessions", "events"), ("events_hourly", "events"),
    ("tfidf_top_terms", "text"), ("ngram_doc_freq", "text"),
    ("exact_dedup", "dedup"), ("near_dup_pairs", "dedup"),
    ("cosine_topk", "similarity"), ("sq_adc_topk", "pq"), ("bm25_topk", "bm25"),
    # rows-only: the SQ8 codes sq_adc_topk's oracle reads back
    ("sq_codes", "pq"),
]
CATALOG_PASS_S = 5.0

# name, unit, better, meaning on catalog / tweet_stream
END_TO_END = [
    ("setup_s", "s", "lower",
     "launch to ready: inputs, JVM, session, warm-up or pre-roll"),
    ("p50_ms", "ms", "lower", "entry wall time / tweet due to batch "
     "committed"),
    ("tail_ms", "ms", "lower",
     "same samples, highest percentile with >= 10 beyond"),
    ("secondary_ms", "ms", "lower", "median pass / median of three "
     "analyses (SQL, featurize, fit, predict)"),
    ("throughput_per_s", "1/s", "higher", "entries per second / tweets "
     "committed per second of trigger time from a backlog"),
]
FAMILIES = ["dedup", "similarity", "pq", "bm25", "relational", "events",
            "text", "reference"]
# name, unit, better
LAYERS = (
    [("engine.jobs", "count", "lower"), ("engine.stages", "count", "lower"),
     ("engine.tasks", "count", "lower"), ("engine.task_s", "s", "lower"),
     ("engine.idle_core_s", "s", "lower"),
     ("engine.shuffle_write_mb", "MB", "lower"),
     ("engine.shuffle_read_mb", "MB", "lower"),
     ("engine.spill_mb", "MB", "lower"), ("engine.gc_s", "s", "lower"),
     ("engine.input_mb", "MB", "lower"),
     ("engine.stage_skew_max", "ratio", "lower")]
    + [(f"functions.{f}_rows_s", "rows/s", "higher") for f in
       ["minhash", "shingles_sorted", "sorted_intersect", "pq_adc",
        "probe_cells", "sanitize"]]
    + [(f"operators.{f}_s", "s", "lower") for f in FAMILIES]
    + [("tune.shuffle_partitions", "count", "lower"),
       ("sources.tweet_read_s", "s", "lower"),
       ("sources.collected_files", "count", "lower"),
       ("ml.featurize_s", "s", "lower"), ("ml.kmeans_fit_s", "s", "lower"),
       ("ml.predict_s", "s", "lower"),
       ("streaming.batches", "count", "lower"),
       ("streaming.trigger_p50_ms", "ms", "lower"),
       ("streaming.add_batch_ms", "ms", "lower"),
       ("streaming.plan_ms", "ms", "lower"),
       ("streaming.offset_ms", "ms", "lower"),
       ("streaming.commit_ms", "ms", "lower"),
       ("streaming.backlog_max_rows", "count", "lower"),
       ("streaming.gen_late_ms_max", "ms", "lower"),
       ("streaming.capacity_1core_tps", "1/s", "higher"),
       ("index.build_s", "s", "lower"), ("index.files", "count", "lower"),
       ("index.bytes_per_vec", "B", "lower"),
       ("index.compactions", "count", "lower"),
       ("index.retrains", "count", "lower"),
       ("index.ingest_trigger_ms", "ms", "lower"),
       ("index.recall_at_10", "ratio", "higher"),
       ("index.probe_p50_ms", "ms", "lower"),
       ("index.probe_tail_ms", "ms", "lower"),
       ("index.ingest_p50_ms", "ms", "lower"),
       ("index.ingest_tail_ms", "ms", "lower"),
       ("index.capacity_vps", "1/s", "higher"),
       ("e2e.error_rate", "ratio", "lower")]
    + [(f"self.{layer}_s", "s", "lower") for layer in stats.LAYER_NAMES]
    + [("trace.overhead_pct", "%", "lower"), ("trace.spans", "count", "lower")])

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_hash():
    """Hash of everything the build reads: the program's and the harness's
    sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build with sbt once per source state; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources under {ROOT}: run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    cache = os.path.join(WORK, "classpath.json")
    want = source_hash()
    if os.path.isfile(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("hash") == want:
            return c["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (sbt, offline)", file=sys.stderr, flush=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cache, "w") as fh:
        json.dump({"hash": want, "classpath": lines[-1]}, fh)
    return lines[-1]


# ---------------------------------------------------------------- inputs

def write_files(d, bodies):
    """Write the bodies as <d>/<basename of d>-NNNNN.json: the names stay
    distinct when several staging directories land in one directory."""
    os.makedirs(d, exist_ok=True)
    names = []
    for i, b in enumerate(bodies):
        name = f"{os.path.basename(d)}-{i:05d}.json"
        with open(os.path.join(d, name), "wb") as fh:
            fh.write(b)
        names.append(name)
    return names


def write_plan(run, plan, schedule=()):
    with open(os.path.join(run, "plan.properties"), "w") as fh:
        for k, v in plan.items():
            fh.write(f"{k}={v}\n")
    with open(os.path.join(run, "open.tsv"), "w") as fh:
        for due, stream, path in schedule:
            fh.write(f"{due}\t{stream}\t{path}\n")


def prepare(workload, seed, seconds, run, trace=False):
    """Generate the run's inputs from the seed into `run`. The traced
    tweet_stream run also gets the index lifecycle's inputs in run/index."""
    ticks = seconds * 1000 // TICK_MS
    if workload == "catalog":
        gen.catalog_fixture(os.path.join(run, "fixture"))
        order = list(CATALOG)
        random.Random(seed).shuffle(order)
        with open(os.path.join(run, "entries.txt"), "w") as fh:
            fh.writelines(f"{n}\t{f}\n" for n, f in order)
        passes = max(3, math.ceil(seconds / CATALOG_PASS_S))
        write_plan(run, {"fixture": "fixture", "passes": passes})
    elif workload == "tweet_stream":
        per_file = 30  # 300 tweets/s offered
        open_files = write_files(os.path.join(run, "staging/open"),
                                 gen.tweet_files(seed, ticks, per_file))
        # the backlog and the pre-roll are the same in every run: the
        # backlog is most of the table the analysis clusters, and a seeded
        # one moved the K-Means time with the data, not with the code
        write_files(os.path.join(run, "staging/capacity"),
                    gen.tweet_files(0, 60, 200, first_seq=10**6))
        # one backlog-sized micro-batch, so the capacity phase also runs
        # compiled code
        write_files(os.path.join(run, "staging/warmup"),
                    gen.tweet_files(0, 10, 200, first_seq=2 * 10**6))
        write_plan(run, {"per_file": per_file, "max_files_per_trigger": 10,
                         "capacity_files": "staging/capacity",
                         "warmup_files": "staging/warmup"},
                   [(k * TICK_MS, "tweets", f"staging/open/{f}")
                    for k, f in enumerate(open_files)])
        if trace:
            prepare_index(seed, seconds, os.path.join(run, "index"))


def prepare_index(seed, seconds, run):
    """Inputs of the index lifecycle phase of the traced tweet_stream run."""
    ticks = seconds * 1000 // TICK_MS
    os.makedirs(run, exist_ok=True)
    ingest_per, probe_per = 50, 20  # 100 vectors/s, 200 probes/s
    v = gen.vector_sets(seed, n_corpus=4000,
                        n_ingest=ticks // 5 * ingest_per,
                        n_probe=ticks * probe_per, n_recall=50,
                        n_capacity=5000, n_warmup=500)
    import pyarrow as pa
    import pyarrow.parquet as pq
    ids, vecs = v["corpus"]
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}),
        os.path.join(run, "corpus.parquet"))

    def chunks(key, per):
        ids, vecs = v[key]
        return [gen.vector_lines(ids[i:i + per], vecs[i:i + per])
                for i in range(0, len(ids), per)]
    ing = write_files(os.path.join(run, "staging/ingest"),
                      chunks("ingest", ingest_per))
    prb = write_files(os.path.join(run, "staging/probe"),
                      chunks("probe", probe_per))
    write_files(os.path.join(run, "staging/capacity"),
                chunks("capacity", 250))
    # the pre-roll: 500 vectors in two ingest files, 50 probes
    write_files(os.path.join(run, "staging/warmup"),
                chunks("warmup", 250))
    write_files(os.path.join(run, "staging/warmprobe"),
                chunks("warmup", 25)[:2])
    with open(os.path.join(run, "recall.json"), "wb") as fh:
        fh.write(gen.vector_lines(*v["recall"]))
    sched = [(5 * k * TICK_MS, "ingest", f"staging/ingest/{f}")
             for k, f in enumerate(ing)]
    sched += [(k * TICK_MS + TICK_MS // 2, "probe", f"staging/probe/{f}")
              for k, f in enumerate(prb)]
    write_plan(run, {"corpus": "corpus.parquet", "recall": "recall.json",
                     "ingest_per_file": ingest_per,
                     "probe_per_file": probe_per,
                     "min_vecs_for_alarm": 300,
                     "compact_max_files": 24,
                     "capacity_files": "staging/capacity",
                     "warmup_files": "staging/warmup",
                     "warmup_probe_files": "staging/warmprobe"},
               sorted(sched))


# ---------------------------------------------------------------- run

def run_jvm(cp, workload, run, trace, budget_s):
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JAVA_OPENS +
           ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main", workload, run, "1" if trace else "0"])
    with open(os.path.join(run, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run, stdout=log, stderr=log)
        try:
            code = p.wait(timeout=max(10, budget_s))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload} did not finish within {budget_s:.0f} s")
    if code != 0 or not os.path.isfile(os.path.join(run, "result.json")):
        with open(os.path.join(run, "jvm.log"), errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"{workload} JVM exited with {code}")
    with open(os.path.join(run, "result.json")) as fh:
        return json.load(fh)


def check_catalog(run, errors):
    """Compare each entry's warm-up output with its committed digest (the
    oracle-bearing entries) or row count (the rows-only ones)."""
    with open(os.path.join(HERE, "expected_digests.json")) as fh:
        expected = json.load(fh)
    bad = 0
    for name, _ in CATALOG:
        want = expected.get(name)
        got = stats.parquet_digest(os.path.join(run, "out", name))
        if want is None:
            errors.append(f"{name}: no expected digest")
            bad += 1
        elif got is None:
            errors.append(f"{name}: no output")
            bad += 1
        elif got["rows"] != want["rows"] or (
                want.get("digest") and got["digest"] != want["digest"]):
            errors.append(f"{name}: got {got['rows']} rows {got['digest'][:12]}"
                          f", want {want['rows']} {str(want.get('digest'))[:12]}")
            bad += 1
    return bad


def check_generator(res):
    """How late the generator ran, in ms; a run it fell too far behind in
    is invalid, not slow: exit 3 without a result."""
    late = stats.lateness_max(res["releases"])
    if late > GEN_LATE_LIMIT_MS:
        fail(f"run invalid: the generator ran {late:.0f} ms behind its "
             f"schedule (limit {GEN_LATE_LIMIT_MS} ms)", code=3)
    return late


def report(workload, res, setup_s, trace, run):
    """Print every metric with its unit; return the final JSON object."""
    errors = list(res["errors"])
    failed = res["failed"]
    if workload == "catalog":
        failed += check_catalog(run, errors)
    late = check_generator(res)
    op = stats.latencies(res["events"].get("op", []))
    sec = stats.latencies(res["events"].get("secondary", []))
    if not op or not sec:
        errors.append("no timed operations")
    tail_pct, tail, n = stats.tail(op)
    e2e = {"setup_s": setup_s, "p50_ms": stats.median(op), "tail_ms": tail,
           "secondary_ms": stats.median(sec),
           "throughput_per_s": res["scalars"].get("throughput_per_s", 0.0)}
    attempted = max(1, res["attempted"])
    print(f"workload {workload}: {attempted} operations, {failed} failed")
    for name, unit, _, meaning in END_TO_END:
        print(f"  {name:18s} {e2e[name]:14.4f} {unit:5s} {meaning}")
    print(f"  (p50/tail over {n} samples, tail is p{tail_pct}; secondary "
          f"over {len(sec)} samples; generator at most {late:.0f} ms late)")
    layers = dict(res["layers"])
    index = os.path.join(run, "index", "result.json")
    if trace and os.path.isfile(index):
        with open(index) as fh:
            ires = json.load(fh)
        failed += ires["failed"]
        attempted += ires["attempted"]
        errors += ires["errors"]
        late = max(late, check_generator(ires))
        probe = stats.latencies(ires["events"].get("op", []))
        ingest = stats.latencies(ires["events"].get("secondary", []))
        layers.update({k: v for k, v in ires["layers"].items()
                       if k.startswith("index.")})
        layers["index.probe_p50_ms"] = stats.median(probe)
        layers["index.probe_tail_ms"] = stats.tail(probe)[1]
        layers["index.ingest_p50_ms"] = stats.median(ingest)
        layers["index.ingest_tail_ms"] = stats.tail(ingest)[1]
        layers["index.capacity_vps"] = ires["scalars"].get("throughput_per_s", 0.0)
    # tracing overhead: this traced run's end-to-end numbers against the
    # last untraced run of the workload in this checkout
    saved = os.path.join(WORK, f"last_e2e_{workload}.json")
    if not trace:
        with open(saved, "w") as fh:
            json.dump(e2e, fh)
    elif os.path.isfile(saved):
        with open(saved) as fh:
            base = json.load(fh)
        over = {k: 100.0 * (e2e[k] - base[k]) / base[k]
                for k in base if base[k]}
        layers["trace.overhead_pct"] = over.get("p50_ms", 0.0)
        print("  tracing overhead against the last untraced run: " +
              ", ".join(f"{k} {v:+.1f}%" for k, v in over.items()))
    layers["e2e.error_rate"] = failed / attempted
    layers["streaming.gen_late_ms_max"] = late
    if trace:
        spans = stats.read_spans(os.path.join(run, "spans.jsonl"))
        for layer, s in stats.self_time(spans).items():
            layers[f"self.{layer}_s"] = s
        for name, unit, _ in LAYERS:
            print(f"  {name:32s} {layers.get(name, 0.0):14.4f} {unit}")
        shutil.copy(os.path.join(run, "spans.jsonl"),
                    os.path.join(WORK, f"last_spans_{workload}.jsonl"))
    for e in errors[:20]:
        print(f"  error: {e}")
    if trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u, _ in LAYERS}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u}
                   for n, u, _, _ in END_TO_END}
    return {"correct": not errors and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def record_digests(cp):
    """Run the catalog once and record expected_digests.json, checking each
    oracle-bearing entry's Spark output against its DuckDB oracle."""
    import duckdb
    run = os.path.join(WORK, "record")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    prepare("catalog", 0, 1, run)
    run_jvm(cp, "catalog", run, False, 900)
    with open(os.path.join(run, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{run}/fixture/{t}.parquet')")
    out, ok = {}, True
    for name, _ in sorted(CATALOG):
        got = stats.parquet_digest(os.path.join(run, "out", name))
        if got is None:
            print(f"{name}: no output")
            ok = False
            continue
        entry = {"rows": got["rows"]}
        if name in oracle:
            try:
                res = con.execute(oracle[name])
                cols = [d[0] for d in res.description]
                want = stats.table_digest(cols, res.fetchall())
            except duckdb.Error as e:
                want = f"oracle failed: {e}"
            match = want == got["digest"]
            print(f"{name}: {got['rows']} rows, oracle match {match}")
            ok &= match
            entry["digest"] = got["digest"]
        else:
            print(f"{name}: {got['rows']} rows (rows-only)")
        out[name] = entry
    if not ok:
        fail("an entry disagrees with its oracle; digests not recorded")
    with open(os.path.join(HERE, "expected_digests.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()
    cp = classpath()
    if a.record_digests:
        record_digests(cp)
        return
    if a.workload is None:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run = os.path.join(runs, f"{a.workload}-s{a.seed}")
    os.makedirs(run)
    t_setup = time.time()
    prepare(a.workload, a.seed, a.seconds, run, a.trace == 1)
    # the deadline counts from after the build, which only a checkout's
    # first run pays
    res = run_jvm(cp, a.workload, run, a.trace == 1,
                  DEADLINE_S - (time.time() - t_setup))
    setup_s = res["ready_epoch_ms"] / 1000.0 - t_setup
    out = report(a.workload, res, setup_s, a.trace == 1, run)
    shutil.rmtree(runs, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
