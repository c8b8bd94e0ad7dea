#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload extract_convert --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the harness from
source (cached under .bench_build/), generates the seed's inputs (cached
per seed, untimed), runs the harness JVM, checks every checked output
against DuckDB, writes a self-describing report under
.bench_build/reports/ and prints one JSON line as the last line of
stdout. See perfbench/README.md.
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

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("extract_convert", "ragged_analytics", "similarity_graph")
DEADLINE_S = 175  # the whole run, build excluded
BUILD_DEADLINE_S = 840
# one closed-loop client on local[n]; recorded in every report
CPUS = min(4, os.cpu_count() or 1)


def input_rows(workload, manifest):
    """Operation type -> input rows it consumes, from the generator's
    sizes: frames for extract (a season combine reads no frames), pulse
    rows for analytics, documents or vectors for similarity. Types that
    read none of these count 0."""
    if workload == "extract_convert":
        per_run = manifest["sizes"]["events_per_run"]
        return {"convert": per_run, "land": per_run, "season": 0}
    if workload == "ragged_analytics":
        # pulse rows: line items are the pulses the Ragged operators pack
        # per order; the column set's pulses are its ragged array elements
        li = manifest["rows"]["tables/lineitem.parquet"]
        return {"ragged_pack": li, "ragged_explode": li, "ragged_reduce_hof": li,
                "ragged_zip": li, "agg_hash_groupby": li, "join_inner_hash": 0,
                "win_rank": 0, "categ_index": 0, "topk_per_group_native": 0,
                "columns_pulse_reduce": manifest["pulse_elements"]}
    docs = manifest["sizes"]["docs"]
    vecs = manifest["sizes"]["vectors"]
    return {"dedup_exact": docs, "corpus_clean": docs, "dedup_cluster": docs,
            "knn_build": vecs, "beam_search": vecs, "pq_walk": vecs,
            "lpa": 0, "hits": 0}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def source_fingerprint(root):
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    picks = ["build.sbt", "project/build.properties"]
    for base in ("src/main", "perfbench/harness/src", "perfbench/harness/build.sbt",
                 "perfbench/harness/project/build.properties"):
        p = os.path.join(root, base)
        if os.path.isfile(p):
            picks.append(base)
        for dirpath, dirnames, files in os.walk(p):
            dirnames.sort()
            picks += [os.path.relpath(os.path.join(dirpath, f), root) for f in sorted(files)]
    for rel in picks:
        p = os.path.join(root, rel)
        if os.path.isfile(p):
            with open(p, "rb") as f:
                h.update(rel.encode() + b"\0" + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile engine + harness once per source state; return the classpath."""
    fp = source_fingerprint(root)
    cp_file = os.path.join(out, f"classpath-{fp[:16]}.txt")
    if os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp, fp
    log("building engine and harness (sbt) ...")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.server.forcestart=false", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
           "export Runtime/fullClasspathAsJars"]
    with open(os.path.join(out, "build.log"), "w") as lf:
        r = subprocess.run(cmd, cwd=os.path.join(root, "perfbench", "harness"), env=env,
                           stdout=subprocess.PIPE, stderr=lf, text=True,
                           timeout=BUILD_DEADLINE_S, stdin=subprocess.DEVNULL)
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (exit {r.returncode}); see {out}/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    log(f"build done in {time.time() - t0:.1f} s")
    return lines[-1], fp


def inputs_for(workload, seed, out):
    """Generate (once per seed) and return (dir, manifest)."""
    d = os.path.join(out, "inputs", workload, f"seed-{seed}")
    mf = os.path.join(d, "manifest.json")
    if not os.path.exists(mf):
        tmp = d + f".tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        m = gen.generate(workload, seed, tmp)
        if workload == "similarity_graph":
            m["raw_doc_bytes"] = raw_doc_bytes(tmp, m)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
        log(f"generated {workload} seed {seed} inputs in {time.time() - t0:.1f} s")
    with open(mf) as f:
        return d, json.load(f)


def raw_doc_bytes(d, manifest):
    """Uncompressed bytes of each shard's documents: text, lang, source
    and the two 8-byte integer columns."""
    con = duckdb.connect()
    out = {}
    for k in range(manifest["sizes"]["shards"]):
        p = os.path.join(d, f"shards/s{k:03d}/documents.parquet")
        out[k] = con.execute(
            "SELECT SUM(strlen(text) + strlen(lang) + strlen(source) + 16) "
            f"FROM read_parquet('{p}')").fetchone()[0]
    return out


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(cp, cds, args, work, budget, dump_cds=True):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    # class-data sharing: the first run of a build dumps the loaded classes,
    # later runs map them instead of loading and verifying ~10k classes
    if os.path.exists(cds):
        cmd.append(f"-XX:SharedArchiveFile={cds}")
    elif dump_cds:
        cmd.append(f"-XX:ArchiveClassesAtExit={cds}")
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "a") as lf:
        try:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=budget,
                               stdin=subprocess.DEVNULL,
                               env={**os.environ, "SPARK_LOCAL_DIRS": f"{work}/spark-local"})
        except subprocess.TimeoutExpired:
            fail(f"harness JVM exceeded {budget:.0f} s; see {work}/jvm.log")
    if r.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"harness JVM exited {r.returncode}:\n{tail}")


def run_checks(checks):
    """Each check: result rows equal the oracle's rows as a multiset. Each
    distinct oracle query is evaluated once and kept as a temp table."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    views, wanted, out = {}, {}, []
    for c in checks:
        res = {"kind": c["kind"], "ops": c["ops"], "ok": False, "detail": ""}
        try:
            for name, p in c["tables"].items():
                if views.get(name) != p:
                    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
                    views[name] = p
                    wanted.clear()  # oracle tables over the old view are stale
            key = c["sql"]
            if key not in wanted:
                wanted[key] = f"want_{len(views)}_{len(wanted)}"
                con.execute(f"CREATE OR REPLACE TEMP TABLE {wanted[key]} AS {c['sql']}")
            want = wanted[key]
            got = f"read_parquet('{c['result']}/*.parquet')"
            gcols = [d[0] for d in con.execute(f"SELECT * FROM {got} LIMIT 0").description]
            wcols = [d[0] for d in con.execute(f"SELECT * FROM {want} LIMIT 0").description]
            if sorted(gcols) != sorted(wcols):
                res["detail"] = f"columns differ: got {gcols}, oracle {wcols}"
            else:
                # multisets compared as sets of (row, multiplicity): DuckDB's
                # EXCEPT ALL miscounts duplicated rows with nested columns
                cols = ", ".join(f'"{x}"' for x in wcols)
                g = f"SELECT {cols}, COUNT(*) AS __n FROM {got} GROUP BY ALL"
                w = f"SELECT {cols}, COUNT(*) AS __n FROM {want} GROUP BY ALL"
                n_got, extra, missing = con.execute(
                    f"SELECT (SELECT COUNT(*) FROM {got}), "
                    f"(SELECT COUNT(*) FROM ({g} EXCEPT {w})), "
                    f"(SELECT COUNT(*) FROM ({w} EXCEPT {g}))").fetchone()
                res["ok"] = extra == 0 and missing == 0
                res["rows"] = n_got
                if not res["ok"]:
                    res["detail"] = (f"{extra} distinct rows over-represented, "
                                     f"{missing} under-represented")
        except Exception as e:  # a check that cannot run is a failed check
            res["detail"] = f"{type(e).__name__}: {e}"[:500]
        out.append(res)
    return out


def git_sha(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def reduce(raw, manifest, checks, workload):
    ops = raw["ops"]
    failed = M.failed_ops(ops, checks)
    good = [o for o in ops if o["i"] not in failed]
    spark_ops = M.per_op_spark(ops, raw["events"])
    lat = [o["latency_s"] for o in good]
    phase = raw["phase_s"]
    rows_of = input_rows(workload, manifest)
    e2e = {
        "setup_s": raw["setup_s"],
        "latency_p50_s": M.percentile(lat, 0.5) if lat else 0.0,
        "latency_p90_s": M.percentile(lat, 0.9) if lat else 0.0,
        "throughput_ops_per_s": len(good) / phase,
        "input_rows_per_s": sum(rows_of[o["kind"]] for o in good) / phase,
        "bytes_stored_per_input_byte": stored_ratio(raw, manifest, workload, good),
    }
    per_kind = {}
    for kind in dict.fromkeys(o["kind"] for o in ops):
        ko = [o for o in ops if o["kind"] == kind]
        kl = [o["latency_s"] for o in ko if o["i"] not in failed]
        sp = [spark_ops[o["i"]] for o in ko]
        per_kind[kind] = {
            "attempted": len(ko), "failed": sum(o["i"] in failed for o in ko),
            "p50_s": M.percentile(kl, 0.5) if kl else None,
            "p90_s": M.percentile(kl, 0.9) if kl else None,
            **{k: M.mean(s[k] for s in sp) for k in sp[0]},
        }
    extra = {
        "failed_frac": len(failed) / len(ops) if ops else 1.0,
        "latency_samples": len(lat),
        "p90_tail_samples": M.tail_samples(len(lat), 0.9),
        "p90_has_min_tail": M.tail_samples(len(lat), 0.9) >= M.MIN_TAIL,
    }
    return e2e, extra, per_kind, spark_ops, failed


def stored_ratio(raw, manifest, workload, good):
    """Parquet bytes the engine wrote per raw input byte it read."""
    if workload == "extract_convert":
        conv = [o for o in good if o["kind"] == "convert"]
        rawb = raw_frame_bytes(manifest)
        num = sum(o["output_bytes"] for o in conv)
        den = sum(rawb[o["unit"]] for o in conv)
    elif workload == "ragged_analytics":
        num = M.mean(raw["probes"].get("setup.output_bytes", []))
        den = sum(raw_frame_bytes(manifest))
    else:
        clean = [o for o in good if o["kind"] == "corpus_clean"]
        num = sum(o["output_bytes"] for o in clean)
        den = sum(manifest["raw_doc_bytes"][str(o["unit"])] for o in clean)
    return num / den if den else 0.0


def raw_frame_bytes(manifest):
    return [v for _, v in sorted(manifest["archive_raw_bytes"].items())]


def layer_metrics(raw, ops, spark_ops, cpus):
    """Per-layer figures of a traced run (see README.md for each)."""
    traced = [o for o in ops if o["traced"] and o["ok"]]
    groups = {f"op-{o['i']}" for o in traced}
    spans = raw["spans"]
    lself = M.layer_self(spans, groups)
    n_traced = max(1, len(traced))
    probes = raw["probes"]

    def pm(name):
        return M.mean(probes.get(name, []))

    def kind_mean(kind, key=None):
        ko = [o for o in traced if o["kind"] == kind]
        if key is None:
            return M.mean(o["latency_s"] for o in ko)
        return M.mean(spark_ops[o["i"]][key] for o in ko)

    def span_mean(name):
        return M.mean((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
                      if s["name"] == name and s["group"] in groups)

    allsp = list(spark_ops.values())
    phase = raw["phase_s"]
    memo = [s for s in spans if s["layer"] == "tables" and s["group"] in groups]
    jobs_by_group = {}
    for j in raw["events"]["jobs"]:
        jobs_by_group[j["group"]] = jobs_by_group.get(j["group"], 0) + 1
    builds = [s for s in memo if jobs_by_group.get(f"{s['group']}/sp-{s['id']}", 0) > 0]
    counts = M.counts_by_kind(raw.get("counts"))
    read_s = pm("sources.read_s")
    groups_spans = [s for s in spans if s["group"] in groups]
    m = {
        "sources.read_s": read_s,
        "sources.write_s": M.write_share(groups_spans, read_s),
        "sources.input_bytes": pm("sources.input_bytes"),
        "sources.output_bytes": pm("sources.output_bytes"),
        "sources.scan_tasks": kind_mean("convert", "tasks"),
        "streaming.landing_s": span_mean("streaming.landing"),
        "spark.jobs": M.mean(s["jobs"] for s in allsp),
        "spark.stages": M.mean(s["stages"] for s in allsp),
        "spark.tasks": M.mean(s["tasks"] for s in allsp),
        "spark.driver_gap_s": M.mean(s["driver_gap_s"] for s in allsp),
        "spark.shuffle_write_bytes": M.mean(s["shuffle_write_bytes"] for s in allsp),
        "spark.shuffle_read_bytes": M.mean(s["shuffle_read_bytes"] for s in allsp),
        "spark.spill_bytes": M.mean(s["spill_bytes"] for s in allsp),
        "spark.executor_run_s": M.mean(s["executor_run_s"] for s in allsp),
        "spark.slot_busy_frac": sum(s["executor_run_s"] for s in allsp) / (phase * cpus),
        "spark.jobs_p32": sum(c["jobs"] for c in counts.values()),
        "spark.stages_p32": sum(c["stages"] for c in counts.values()),
        "spark.tasks_p32": sum(c["tasks"] for c in counts.values()),
        "operators.dedup.candidate_yield": pm("operators.dedup.candidate_yield"),
        "operators.similarity.build_s": kind_mean("knn_build"),
        "operators.similarity.build_jobs": kind_mean("knn_build", "jobs"),
        "operators.similarity.search_s": kind_mean("beam_search"),
        "operators.similarity.search_jobs": kind_mean("beam_search", "jobs"),
        "operators.vectors.pq_walk_s": kind_mean("pq_walk"),
        "operators.analytics.lpa_s": kind_mean("lpa"),
        "operators.analytics.hits_s": kind_mean("hits"),
        "functions.minhash_s": pm("functions.minhash_s"),
        "functions.cosine_s": pm("functions.cosine_s"),
        "api.corpus_s": lself.get("api", 0.0) / max(1, sum(o["kind"] == "corpus_clean"
                                                          for o in traced)),
        "tables.memo_calls": float(len(memo)),
        "tables.memo_builds": float(len(builds)),
        "tables.memo_hit_frac": 1.0 - len(builds) / len(memo) if memo else 0.0,
        "tables.memo_build_s": M.mean((s["end_ns"] - s["start_ns"]) / 1e9 for s in builds),
        "tables.storage_retained_mb": raw["storage_retained_bytes"] / 2 ** 20,
        "trace.overhead_frac": M.trace_overhead([o for o in ops if o["ok"]]),
    }
    for layer in ("ragged", "aggregations", "joins", "windows", "sortsetops", "dedup"):
        m[f"operators.{layer}.self_s"] = lself.get(f"operators.{layer}", 0.0) / n_traced
    return m, counts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", type=int, default=0, metavar="N",
                    help="test hook: make every N-th timed operation throw")
    a = ap.parse_args()

    # a terminated run must not leave the harness JVM behind:
    # subprocess.run kills its child when the wait is interrupted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the repository root: build.sbt and src/main/scala are required", 2)
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp, fingerprint = build(root, out)

    t_run = time.time()
    inputs, manifest = inputs_for(a.workload, a.seed, out)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}-{os.getpid()}"
    work = os.path.join(out, "runs", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cds = os.path.join(out, f"classes-{fingerprint[:16]}.jsa")
    common = ["--workload", a.workload, "--seed", str(a.seed), "--inputs", inputs,
              "--work", work, "--cpus", str(CPUS)]
    if a.workload != "similarity_graph" and not os.path.exists(
            os.path.join(inputs, "archive", "_DONE")):
        # the engine-encoded archive, untimed, in a JVM of its own: the
        # run's JVM must meet Spark first in its timed set-up
        run_jvm(cp, cds, common + ["--generate", "1"], work,
                DEADLINE_S - (time.time() - t_run), dump_cds=False)
    t_jvm = time.time()
    run_jvm(cp, cds, common + ["--seconds", str(a.seconds), "--trace", str(a.trace),
                               "--inject-failure", str(a.inject_failure)],
            work, DEADLINE_S - (time.time() - t_run))
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)
    if a.workload != "similarity_graph" and "archive_raw_bytes" not in manifest:
        with open(os.path.join(inputs, "archive", "raw_bytes.json")) as f:
            manifest["archive_raw_bytes"] = json.load(f)
        manifest["archive_sha256"], manifest["archive_bytes"] = \
            gen.tree_digest(os.path.join(inputs, "archive"))
        with open(os.path.join(inputs, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)

    t_checks = time.time()
    checks = run_checks(raw["checks"])
    log(f"jvm {t_checks - t_jvm:.1f} s, {len(checks)} checks {time.time() - t_checks:.1f} s")
    e2e, extra, per_kind, spark_ops, failed = reduce(raw, manifest, checks, a.workload)
    ops = raw["ops"]
    correct = not failed and all(c["ok"] for c in checks)

    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "config": {**raw["config"], "cpus": CPUS, "git_sha": git_sha(root),
                   "source_sha256": fingerprint,
                   "python": sys.version.split()[0], "duckdb": duckdb.__version__},
        "inputs": {k: manifest[k] for k in manifest if k != "raw_doc_bytes"},
        "end_to_end": e2e, **extra,
        "setup_warm_s": raw["setup_warm_s"],
        "attempted": len(ops), "failed": len(failed),
        "errors": [o["error"] for o in ops if o.get("error")][:20],
        "checks": checks, "per_operation_type": per_kind,
        "per_operation": [{**{k: o[k] for k in ("i", "kind", "request", "latency_s", "ok",
                                                 "traced")}, **spark_ops[o["i"]]} for o in ops],
    }
    if a.trace:
        layers, counts = layer_metrics(raw, ops, spark_ops, CPUS)
        for kind, v in per_kind.items():
            layers[f"op.{kind}.p50_s"] = v["p50_s"] or 0.0
        report["per_layer"] = layers
        report["counts_p32"] = counts
    os.makedirs(os.path.join(out, "reports"), exist_ok=True)
    rpath = os.path.join(out, "reports", name + ".json")
    with open(rpath, "w") as f:
        json.dump(report, f, indent=1)
    if a.trace:
        with open(os.path.join(out, "reports", name + ".spans.jsonl"), "w") as f:
            for s in raw["spans"]:
                f.write(json.dumps(s) + "\n")
    # a failed run exits before this point and leaves its work directory
    shutil.rmtree(work, ignore_errors=True)

    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    if a.trace:
        values = report["per_layer"]
        wanted = spec["per_layer"]
    else:
        values = e2e
        wanted = spec["end_to_end"]
    result_metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                      for m in wanted}
    for m in wanted:
        log(f"{m['name']:40s} {result_metrics[m['name']]['value']:.6g} {m['unit']}")
    for c in checks:
        if not c["ok"]:
            log(f"check failed: {c['kind']} {c['detail']}")
    log(f"{len(ops)} ops, {len(failed)} failed; {extra['p90_tail_samples']} samples beyond p90; "
        f"report {rpath}; {time.time() - t_start:.1f} s")
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": len(failed),
                      "metrics": result_metrics}))


if __name__ == "__main__":
    main()
