"""Benchmark of the inverted-index engine: the paper's build job, cold and
warm, and letter-index queries interleaved with snapshot merges.

    python3 ixbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Run it from the repository root. It builds the engine and the harness from
source with sbt (`build.py`; skipped when nothing changed), generates the
workload's corpus from `--seed` (`corpus.py`, cached under
`ixbench/.cache`), times one cold set-up JVM, runs one harness JVM with a
Spark `local[k]` session and a closed loop with one client for `--seconds`,
and checks every output against a plain Python model of the reference
algorithm. The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`). A wrong output counts as a failed op and makes
the exit code 1. Earlier stdout lines carry the configuration fingerprint
and evidence of how flat the timed window was (JIT time, half medians);
a window whose half medians differ by more than FLAT_TOL is flagged on
stderr.

Workloads (both on the same seeded, reference-shaped corpus):
  bulk_build   a cold `graft.Main` run, then warm full index builds of the
               corpus (355 docs, about 1 M tokens).
  query_merge  a cold `graft.Main` run that writes the base snapshot, then
               2-3-term AND/OR queries on the on-disk letter index with one
               `LetterSink.mergeExact` after every 6 queries; every merge
               folds one small delta batch into the same base snapshot, and
               the queries after it read the newest snapshot.

The query stream's shape (see `corpus.query_stream`) is an assumption, not
measured traffic: only its mean length is taken from published query logs.

End-to-end metrics (tracing off; every workload reports every metric, so
the cold `setup_s` and `cli_wall_s` measure the same code on both):
  setup_s           launch of a JVM until its Spark context is up: the
                    median of a JVM that only starts a session and the
                    harness JVM, whose first session is the CLI run's
  cli_wall_s        launch until `graft.Main.main k k <manifest> <outDir>`,
                    the JVM's first act, returns: the paper's job, cold
  write_s           median of the timed ops that write a 26-file snapshot:
                    full builds (bulk_build) or merges (query_merge)
  op_ms_p50         median latency of the workload's main op: a build
                    (bulk_build) or a query (query_merge); on bulk_build
                    write_s and op_ms_p50 are the same median. No higher
                    percentile is reported: a window holds about 8 builds
                    or 25 queries, too few for 10 samples beyond a p90
  ops_per_s         timed ops per second, over the whole cycles of the op
                    mix (one merge and its queries) that the window holds
  retained_heap_mb  heap used after one full GC at the end of the window

`--wrong-model` perturbs the model (the ids of one word shift by one), so
that the checks of the CLI run, builds and merges must fail: a self-test of
the checker.
"""

import argparse
import json
import os
import pickle
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import corpus  # noqa: E402

K = 4            # Spark local[k] and shuffle partitions, fixed
HEAP = "2g"      # -Xms = -Xmx for every JVM the benchmark starts
CACHE_KEEP = 24  # corpora kept under .cache, 11 MB each
SETUP_PROBES = 1  # cold set-ups per run besides the CLI run's own; setup_s is their median
FLAT_TOL = 0.05   # a window whose half medians differ by more is flagged as not flat
DEADLINE_S = 170  # a run's JVMs must end this long after the build

# Both workloads run on a reference-shaped corpus: the reference corpus is
# 355 docs, about 1.04 M tokens and 33 k distinct words (BASELINE.md). One
# seed gives one corpus (and its delta batches), shared by the workloads.
CORPUS = dict(docs=355, tokens=1_000_000, vocab=34_000, zipf=1.0,
              deltas=4, delta_docs=12, delta_tokens=30_000)
# Op mix and warm-up (in ops, after the cold CLI run) per workload; `main` is
# the op kind whose latency op_ms_p50 reports. The warm-ups come from
# 40-70 s windows on a 4-vCPU host: warm build latency falls from 1.9 s to
# a flat 1.0-1.1 s by the 12th to 16th build (later on a busier host), query
# latency by about 30 % over the first 40 ops and by a few % per 50 ops after
# that, merge latency by about 20 % more over the 20 merges after warm-up.
# Longer warm-ups would not fit a run into about a minute.
# query_merge's 6 queries per merge are an assumption too: reads outnumber
# writes, and a 10 s window still holds about 5 merges for merge latency.
WORKLOADS = {
    "bulk_build": dict(warmup=14, main="build"),
    "query_merge": dict(warmup=35, main="query", queries_per_merge=6),
}
GEN_VERSION = 4


def harness_cmd(cp, jvm_options, tmp, args):
    """The harness JVM: fixed heap, the options Spark's launcher would add,
    temp and Spark scratch files inside the run directory."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"] + jvm_options +
            [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-Dspark.extraListeners=ixbench.SetupProbe",
             "-cp", cp] + args)


def jvm_env():
    """The environment of every JVM: without the variables graft.Main or
    Spark would take a master or a core count from."""
    drop = ("SPARK_MASTER", "SPARK_GRAFT_CPUS", "MASTER", "SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS")
    return {k: v for k, v in os.environ.items() if k not in drop}


def setup_probe(cp, jvm_options, tmp, timeout):
    """Seconds from the launch of a JVM until its Spark context is up."""
    t0 = time.time()
    r = subprocess.run(harness_cmd(cp, jvm_options, tmp, ["ixbench.Setup", str(K)]), capture_output=True,
                       text=True, cwd=tmp, env=jvm_env(), timeout=timeout)
    lines = r.stdout.split()
    if r.returncode != 0 or not lines or not lines[-1].isdigit() or int(lines[-1]) == 0:
        sys.exit("ixbench: set-up probe failed:\n" + r.stderr[-2000:])
    return int(lines[-1]) / 1000 - t0


def corpus_dir(seed):
    return os.path.join(HERE, ".cache", f"ref-s{seed}-v{GEN_VERSION}")


def prepare_corpus(seed, cfg=CORPUS):
    """Generate (or reuse) the seed's corpus and its model; returns dict."""
    d = corpus_dir(seed)
    cache = os.path.dirname(d)
    model_file = os.path.join(d, "model.pkl")
    if os.path.isfile(model_file):
        os.utime(d)
        with open(model_file, "rb") as f:
            return pickle.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cseed = seed * 1009 + 1
    rng = random.Random(cseed)
    lang = corpus.language(rng, cfg["vocab"], cfg["zipf"])
    manifest = corpus.write_corpus(tmp, rng, lang, cfg["docs"], cfg["tokens"])
    base, stats = corpus.read_index(manifest)
    deltas = []
    for i in range(cfg["deltas"]):
        m = corpus.write_corpus(tmp, rng, lang, cfg["delta_docs"], cfg["delta_tokens"],
                                sub=f"delta{i}", first_id=stats["docs"] + 1)
        idx, _ = corpus.read_index(m, id_offset=stats["docs"])
        deltas.append({"manifest": os.path.relpath(m, tmp), "index": idx})
    model = {"seed": seed, "corpus_seed": cseed, "manifest": os.path.relpath(manifest, tmp),
             "base": base, "deltas": deltas,
             "stats": dict(stats, distinct_words=len(base), postings=sum(map(len, base.values())))}
    model["expect"] = expectations(model)
    with open(os.path.join(tmp, "model.pkl"), "wb") as f:
        pickle.dump(model, f, protocol=pickle.HIGHEST_PROTOCOL)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    entries = sorted((e for e in os.listdir(cache) if not e.endswith(".tmp")),
                     key=lambda e: os.path.getmtime(os.path.join(cache, e)))
    for e in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)
    return model


def expectations(model):
    """Model digests of the 26 letter files: the base build and each merge."""
    base, lines = model["base"], corpus.index_lines(model["base"])
    return {"base": corpus.letters_digest(corpus.letter_files(lines)),
            "merge": [corpus.letters_digest(corpus.letter_files(corpus.merged_lines(base, lines, d["index"])))
                      for d in model["deltas"]]}


def write_plan(path, name, cfg, model, cdir, queries, snapshot):
    lines = [f"corpus\t{os.path.join(cdir, model['manifest'])}"]
    if snapshot:
        lines.append(f"index\t{snapshot}")
    n = model["stats"]["docs"]
    for i, d in enumerate(model["deltas"]):
        lines.append(f"delta\t{i}\t{os.path.join(cdir, d['manifest'])}\t{n}")
    if name == "bulk_build":
        lines.append("op\tbuild")
        lines += [f"probe\t{qid}\t{kind}\t{' '.join(t)}" for qid, (kind, t) in enumerate(queries[:10])]
    else:
        q = iter(enumerate(queries))
        for i in range(len(queries) // (cfg["queries_per_merge"] + 1)):
            lines.append(f"op\tmerge\t{i % len(model['deltas'])}")
            for _ in range(cfg["queries_per_merge"]):
                qid, (kind, t) = next(q)
                lines.append(f"op\tquery\t{qid}\t{kind}\t{' '.join(t)}")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def letters_on_disk(d):
    files = {}
    for c in "abcdefghijklmnopqrstuvwxyz":
        p = os.path.join(d, f"{c}.txt")
        files[c] = open(p, "rb").read() if os.path.isfile(p) else b"<missing>"
    return corpus.letters_digest(files)


def read_out(path):
    meta, ops = {}, []
    with open(path, encoding="utf-8") as f:
        for line in f:
            p = line.rstrip("\n").split("\t")
            if p[0] == "meta":
                meta[p[1]] = p[2]
            elif p[0] == "op":
                ops.append(dict(seq=int(p[1]), phase=p[2], kind=p[3], id=p[4], snap=int(p[6]),
                                ms=float(p[7]), digest=p[8], end_ms=float(p[10])))
    return meta, ops


def fingerprint(name, seed, model, jvm_meta, load0):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                             timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = ""
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    return {"workload": name, "nproc": len(os.sched_getaffinity(0)), "k": K, "heap": HEAP,
            "jdk": java[0] if java else "?", "spark": jvm_meta.get("spark_version", "?"),
            "git_sha": sha or None, "source_digest": build.source_digest(), "python": platform.python_version(),
            "seed": seed, "corpus_seed": model["corpus_seed"], "corpus": model["stats"],
            "deltas": len(model["deltas"]), "loadavg_start": load0, "loadavg_end": os.getloadavg()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--wrong-model", action="store_true")
    a = ap.parse_args()
    load0 = os.getloadavg()
    name, cfg = a.workload, WORKLOADS[a.workload]
    if os.cpu_count() < K:
        print(f"ixbench: needs {K} cores, host has {os.cpu_count()}", file=sys.stderr)

    try:
        cp, jvm_options = build.build()
    except build.BuildError as e:
        sys.exit(f"ixbench: {e}")
    deadline = time.time() + DEADLINE_S  # a compile may take longer than a run
    model = prepare_corpus(a.seed)
    cdir = corpus_dir(a.seed)
    if a.wrong_model:
        w = min(model["base"], key=lambda w: (len(model["base"][w]), w))
        model["base"][w] = {d + 1 for d in model["base"][w]}
        model["expect"] = expectations(model)
    expect_base, expect_merge = model["expect"]["base"], model["expect"]["merge"]
    queries = corpus.query_stream(model["base"], 4000)

    work = os.path.join(HERE, ".work", name)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    log = os.path.join(work, "jvm.log")
    attempted = failed = 0
    problems = []

    plan = os.path.join(work, "plan.tsv")
    cli_out = os.path.join(work, "cli")
    write_plan(plan, name, cfg, model, cdir, queries, cli_out if name == "query_merge" else None)

    out = os.path.join(work, "run.tsv")
    args = [f"plan={plan}", f"out={out}", f"work={work}", f"cli_out={cli_out}", f"k={K}", f"seconds={a.seconds}",
            f"warmup={cfg['warmup']}", f"trace={a.trace}"]
    setups = [setup_probe(cp, jvm_options, tmp, deadline - time.time()) for _ in range(SETUP_PROBES)]
    with open(log, "wb") as f:
        t0 = time.time()
        rc = subprocess.run(harness_cmd(cp, jvm_options, tmp, ["ixbench.Harness"] + args), stdout=f,
                            stderr=subprocess.STDOUT, cwd=work, env=jvm_env(), timeout=deadline - t0).returncode
    meta, ops = read_out(out) if os.path.isfile(out) else ({}, [])
    if rc != 0 or "cli_end_epoch_ms" not in meta:
        sys.exit(f"ixbench: harness failed (rc={rc}), see {log}")
    setups.append(float(meta["context_ready_epoch_ms"]) / 1000 - t0)
    cli_wall_s = float(meta["cli_end_epoch_ms"]) / 1000 - t0
    attempted += 1
    if letters_on_disk(cli_out) != expect_base:
        failed += 1
        problems.append("cli run: letter files differ from the model")

    # check every op against the model
    snaps = {-1: model["base"], -2: model["base"]}
    qcache = {}
    for op in ops:
        attempted += 1
        if op["kind"] == "build":
            want = expect_base
        elif op["kind"] == "merge":
            want = expect_merge[int(op["id"])]
        else:
            key = (int(op["id"]), op["snap"])
            if key not in qcache:
                kind, terms = queries[int(op["id"])]
                if op["snap"] not in snaps:
                    snaps[op["snap"]] = corpus.merged(model["base"], model["deltas"][op["snap"]]["index"])
                qcache[key] = corpus.query_digest(snaps[op["snap"]], kind, terms)
            want = qcache[key]
        if op["digest"] != want:
            failed += 1
            if len(problems) < 5:
                problems.append(f"op {op['seq']} {op['kind']} {op['id']}: got {op['digest'][:16]}, "
                                f"model {want[:16]}")
    for key, want in (("check.build", expect_base), ("check.merge0", expect_merge[0])):
        if key in meta:
            attempted += 1
            if meta[key] != want:
                failed += 1
                problems.append(f"traced {key}: got {meta[key][:16]}, model {want[:16]}")
    for p in problems:
        print(f"ixbench: FAILED {p}", file=sys.stderr)

    main_kind = cfg["main"]
    cycle = cfg.get("queries_per_merge", 0) + 1
    timed = [o for o in ops if o["phase"] == "timed"]
    main_ms = [o["ms"] for o in timed if o["kind"] == main_kind]
    write_ms = [o["ms"] for o in timed if o["kind"] in ("build", "merge")]
    half = len(main_ms) // 2
    h1, h2 = (statistics.median(main_ms[:half]), statistics.median(main_ms[half:])) if half else (None, None)
    evidence = {
        "warmup_ops": int(meta.get("warmup_ops", 0)), "warmup_jit_ms": float(meta.get("warmup_jit_ms", 0)),
        "window_ops": len(timed), "window_main_ops": len(main_ms), "window_write_ops": len(write_ms),
        "window_jit_ms": float(meta.get("window.jit_ms", 0)), "window_gc_ms": float(meta.get("window.gc_ms", 0)),
        "first_half_median_ms": h1, "second_half_median_ms": h2,
        "flat": bool(half) and abs(h2 / h1 - 1) <= FLAT_TOL, "setup_samples_s": setups,
    }
    if not evidence["flat"]:
        print(f"ixbench: window not flat: half medians {h1} and {h2} ms differ by more than {FLAT_TOL:.0%}",
              file=sys.stderr)
    fp = fingerprint(name, a.seed, model, meta, load0)
    print("ixbench fingerprint " + json.dumps(fp, sort_keys=True))
    print("ixbench evidence " + json.dumps(evidence, sort_keys=True))
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump({"fingerprint": fp, "evidence": evidence, "meta": meta}, f, indent=1, sort_keys=True)

    if a.trace == 0:
        # throughput over whole cycles of the op mix (a merge and its queries),
        # so that a window ending inside a cycle does not skew the mix
        whole = len(timed) // cycle * cycle
        if not main_ms or not write_ms or not whole:
            sys.exit("ixbench: the timed window completed no op of a measured kind")
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "cli_wall_s": (cli_wall_s, "s"),
            "write_s": (statistics.median(write_ms) / 1000, "s"),
            "op_ms_p50": (statistics.median(main_ms), "ms"),
            "ops_per_s": (whole / ((timed[whole - 1]["end_ms"] - float(meta["window.start_ms"])) / 1000), "1/s"),
            "retained_heap_mb": (float(meta["retained_heap_mb"]), "MB"),
        }
    else:
        metrics = layer_metrics(meta, ops, main_kind)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(1 if failed else 0)


LAYER_UNITS = {
    "manifest.scan_s": "s", "manifest.files": "count", "manifest.bytes": "bytes", "manifest.lines": "count",
    "manifest.partitions": "count", "tokenize.self_s": "s", "tokenize.tokens": "count",
    "index.aggregate_self_s": "s", "index.distinct_words": "count", "index.postings": "count",
    "index.merge_join_self_s": "s", "sink.rank_self_s": "s", "sink.write_self_s": "s",
    "sink.merge_write_self_s": "s", "sink.collected_rows": "count", "sink.bytes_written": "bytes",
    "letters.files_opened_per_query": "count", "letters.rows_read_per_query": "count",
    "letters.rows_kept_ratio": "ratio", "letters.scan_s": "s", "letters.full_scan_s": "s",
    "search.df_build_ms": "ms", "search.exploded_rows": "count", "search.result_rows": "count",
    "plan.analysis_ms": "ms", "plan.optimize_ms": "ms", "plan.physical_ms": "ms",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms", "spark.scheduler_delay_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes", "spark.failed_tasks": "count",
}


def layer_metrics(meta, ops, main_kind):
    out = {k: (float(meta[k]), u) for k, u in LAYER_UNITS.items()}
    n = max(1, int(meta["window.ops"]))
    out["jvm.cpu_s"] = (float(meta["window.cpu_s"]) / n, "s")
    out["jvm.gc_ms"] = (float(meta["window.gc_ms"]) / n, "ms")
    out["jvm.gc_count"] = (float(meta["window.gc_count"]) / n, "count")
    out["jvm.jit_ms"] = (float(meta["window.jit_ms"]), "ms")
    ready = float(meta["context_ready_epoch_ms"])
    out["setup.session_s"] = ((ready - float(meta["jvm_start_epoch_ms"])) / 1000, "s")
    out["setup.first_build_s"] = ((float(meta["cli_end_epoch_ms"]) - ready) / 1000, "s")
    untraced = [o["ms"] for o in ops if o["phase"] == "timed" and o["kind"] == main_kind]
    traced = [o["ms"] for o in ops if o["phase"] == "traced" and o["kind"] == main_kind]
    out["trace.overhead_pct"] = ((statistics.median(traced) / statistics.median(untraced) - 1) * 100, "%")
    writes = [o["ms"] for o in ops if o["phase"] == "timed" and o["kind"] in ("build", "merge")]
    prefix_total = float(meta["build.prefix_total_s" if main_kind == "build" else "merge.prefix_total_s"])
    out["write.prefix_gap_pct"] = ((prefix_total * 1000 / statistics.median(writes) - 1) * 100, "%")
    half = len(untraced) // 2
    out["window.first_half_ms"] = (statistics.median(untraced[:half]), "ms")
    out["window.second_half_ms"] = (statistics.median(untraced[half:]), "ms")
    return out


if __name__ == "__main__":
    main()
