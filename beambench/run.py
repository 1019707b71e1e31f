#!/usr/bin/env python3
"""One benchmark run of the graft engine.

  python3 beambench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 beambench/run.py --self-test

Run from the repository root. The first run builds the engine and this
benchmark's harness with sbt (offline) and caches the resolved classpath;
later runs launch the JVM straight from that classpath. Inputs are made from
the seed by `gen.py` in its own process and cached by seed. The last line of
stdout is one JSON object: correct, attempted, failed, metrics. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the run
registers Spark's listeners and reports the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(HERE, "engine")
WORK = os.path.join(HERE, ".work")

sys.path.insert(0, HERE)
import gen  # noqa: E402
import spec  # noqa: E402

# Executors run at local[nproc / 2]. The JVM's JIT and GC threads, the
# open-loop generator and the launcher get the other half, so the engine
# never queues behind its own helpers (at local[nproc - 1] the load average
# sat above nproc and whole runs slowed by a fifth).
CORES = max(1, (os.cpu_count() or 2) // 2)
HEAP = "3g"  # -Xms = -Xmx: a fixed heap, so GC sizing never varies by run

# Nominal length of one timed window. A fixed constant, never measured:
# `--seconds` selects a whole number of windows, so every run of a workload
# does the same work and rows_per_s, cpu_s and latency compare.
PASS_SECONDS = 30
# Batch passes per window in beam-pipelines. Each pipeline counts with its
# fastest pass: the JIT still compiles during the first pass at full size,
# and a neighbour on the host only ever slows a pass down.
BATCH_PASSES = 2

BEAM_PIPELINES = ["wordcount", "tfidf", "autocomplete", "userscore",
                  "hourlyteamscore", "trafficmaxlaneflow", "trafficroutes",
                  "topwikipediasessions"]
BEAM_PARAMS = {
    "autocomplete_prefix": 3, "autocomplete_k": 5,
    "hourly_start": "2023-11-15 00:00:00", "hourly_stop": "2023-11-16 00:00:00",
    "traffic_window": "10 minutes", "traffic_slide": "5 minutes",
    "traffic_window_s": 600, "traffic_slide_s": 300,
    "wiki_gap": "1 hour", "wiki_gap_s": 3600,
}
# The input rows each pipeline consumes, by generator manifest key.
BEAM_ROWS = {"wordcount": "corpus_lines", "tfidf": "doc_lines",
             "autocomplete": "corpus_lines", "userscore": "game_lines",
             "hourlyteamscore": "game_lines", "trafficmaxlaneflow": "traffic_rows",
             "trafficroutes": "traffic_rows", "topwikipediasessions": "wiki_lines"}

# registry-mix: one fixed order. The list includes the queries whose cost
# shows only under full materialization (x5, d20, d14, a18, q1). The tables
# are fixed, so the seed has nothing to vary but the order, and the order
# is not neutral: d20 and d14 share a pin that the first of them builds
# (3-4 s of the pass), so a seeded order moved that time between runs.
REGISTRY = {
    "q": ["q1_agg"],
    "a": ["a18_trailing_hour"],
    "w": ["w3_session"],
    "t": ["t1_topk_per_key"],
    "j": ["j7_asof_attribution"],
    "x": ["x5_langid_ngram"],
    "d": ["d20_dup_pagerank", "d14_lsh_recall"],
    "v": ["v1_knn_brute"],
    "p": ["p13_parse_tolerant"],
}
# Stream warm-up files, one per trigger (they run alongside the batch warm-up)
WARM_FILES = 6
TESTDATA = os.path.expanduser("~/testdata")  # the fixture tables, TESTDATA.md
SF, WARM_SF = f"{TESTDATA}/sf0.1", f"{TESTDATA}/sf0.01"
GUARD_NEGATIVE = "a18_trailing_hour"

# The JVM flags `spark-submit` would add on JDK 17 (the repo's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[beambench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build ---

def _sources():
    """Every file the engine build reads, in a stable order."""
    out = [os.path.join(ROOT, "build.sbt")]
    for base, sub in ((ROOT, "project"), (ROOT, "src/main"), (ENGINE, ".")):
        top = os.path.join(base, sub)
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project")
                             or (x == "project" and d == top and base == ENGINE))
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return out


def source_hash():
    h = hashlib.sha256(ROOT.encode())
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """(classpath, source hash, class-data archive or None) for this source
    tree. sbt resolves the classpath once; then one JVM runs every workload's
    warm-up and records the classes it loads in an AppCDS archive, which
    later runs map instead of loading those classes again."""
    cache = os.path.join(WORK, "classpath.json")
    want = source_hash()
    try:
        with open(cache) as f:
            c = json.load(f)
        if c["source_hash"] == want:
            return c["classpath"], want, c["archive"]
    except (OSError, ValueError, KeyError):
        pass
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("sbt not found on PATH")
    repos = os.path.expanduser("~/.sbt/repositories")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else [])))
    log("building engine and harness with sbt (first run in this checkout)")
    t0 = time.time()
    # jars, not class directories: a class-data archive needs them
    p = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export Runtime/fullClasspathAsJars"],
        cwd=ENGINE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=600)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"sbt build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    log(f"build took {time.time() - t0:.0f}s")
    archive = record_archive(cp)
    os.makedirs(WORK, exist_ok=True)
    with open(cache + ".tmp", "w") as f:
        json.dump({"source_hash": want, "classpath": cp, "archive": archive}, f)
    os.replace(cache + ".tmp", cache)
    return cp, want, archive


def record_archive(cp):
    """Runs every warm-up once under -XX:ArchiveClassesAtExit. Returns the
    archive's path, or None if the JVM could not write one (runs then load
    classes the ordinary way)."""
    path = os.path.join(WORK, "engine.jsa")
    if os.path.exists(path):
        os.remove(path)
    run_dir = new_run_dir("archive")
    params = dict(stream_params(run_dir, inputs("stream", 0)),
                  workload="archive", cores=CORES, trace=False,
                  result=os.path.join(run_dir, "result.json"),
                  warm_inputs=inputs("batch-warm", 0), pipelines=BEAM_PIPELINES,
                  out=os.path.join(run_dir, "out"), warm_sf=WARM_SF,
                  queries=[q for fam in REGISTRY.values() for q in fam],
                  check_dir=os.path.join(run_dir, "check"), **BEAM_PARAMS)
    t0 = time.time()
    try:
        Engine(cp, params, run_dir, jvm_flags=[
            f"-XX:ArchiveClassesAtExit={path}"]).run(timeout=300)
    except SystemExit as e:
        log(f"no class-data archive: {str(e).splitlines()[0]}")
    log(f"class-data archive took {time.time() - t0:.0f}s")
    return path if os.path.exists(path) else None


# ----------------------------------------------------------------- inputs ---

def inputs(kind, seed):
    """Generator output for (kind, seed, generator version): reused if its
    checksums verify, otherwise regenerated by gen.py in its own process."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "inputs", f"{kind}-{seed}-{version}")
    if gen.verify(d):
        os.utime(d)  # recently used: `prune` keeps it
        return d
    shutil.rmtree(d, ignore_errors=True)
    prune(os.path.dirname(d), keep=6)
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), kind, d,
                    str(seed)], check=True, stdin=subprocess.DEVNULL)
    if not gen.verify(d):
        raise SystemExit(f"generated inputs in {d} fail their checksums")
    log(f"generated {kind} inputs in {time.perf_counter() - t0:.1f}s")
    return d


def prune(parent, keep):
    """Deletes all but the `keep` newest entries of `parent` (inputs of a
    workload take tens of MB per seed)."""
    if not os.path.isdir(parent):
        return
    old = sorted(os.listdir(parent),
                 key=lambda n: os.path.getmtime(os.path.join(parent, n)))
    for n in old[:-keep] if keep else old:
        shutil.rmtree(os.path.join(parent, n), ignore_errors=True)


def manifest(d):
    with open(os.path.join(d, "manifest.json")) as f:
        return json.load(f)


# -------------------------------------------------------------- host view ---

def cpu_sample():
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7] if len(v) > 7 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# -------------------------------------------------------------------- run ---

class Engine:
    """The engine JVM for one run, and the host samples around its window."""

    def __init__(self, cp, params, run_dir, on_drain=None, jvm_flags=()):
        self.params_path = os.path.join(run_dir, "params.json")
        with open(self.params_path, "w") as f:
            json.dump(params, f, indent=1)
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.cmd = [shutil.which("java") or "java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
                    *ADD_OPENS, *jvm_flags, f"-Djava.io.tmpdir={tmp}",
                    f"-Dspark.local.dir={tmp}",
                    f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
                    "-Dspark.sql.streaming.numRecentProgressUpdates=100000",
                    "-Dspark.sql.streaming.minBatchesToRetain=100000",
                    "-cp", cp, "beambench.Main", self.params_path]
        self.log_path = os.path.join(run_dir, "engine.log")
        self.on_drain = on_drain
        self.marks = {}

    def run(self, timeout):
        t_start = time.perf_counter()
        self._run(timeout)
        log(f"engine ran {time.perf_counter() - t_start:.1f}s")

    def _run(self, timeout):
        with open(self.log_path, "w") as err:
            t0 = time.perf_counter()
            proc = subprocess.Popen(self.cmd, cwd=os.path.dirname(self.params_path),
                                    stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                    stderr=err, text=True)
            timer = threading.Timer(timeout, proc.kill)
            timer.start()
            helper = None
            try:
                for line in proc.stdout:
                    if not line.startswith("@@ "):
                        continue
                    mark = line[3:].strip()
                    self.marks[mark] = (time.perf_counter() - t0, cpu_sample(),
                                        loadavg())
                    if mark == "drain_done" and self.on_drain:
                        helper = threading.Thread(target=self.on_drain,
                                                  args=(proc.stdin,))
                        helper.start()
                proc.wait()
                if helper:
                    helper.join()
            finally:
                timer.cancel()
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if proc.returncode != 0 or "window_end" not in self.marks:
            with open(self.log_path) as f:
                tail = f.read()[-3000:]
            raise SystemExit(f"engine exited {proc.returncode}\n{tail}")

    def host(self):
        """Steal and load over the timed window, sampled from outside."""
        (_, (tot0, st0), la0) = self.marks["window_start"]
        (_, (tot1, st1), la1) = self.marks["window_end"]
        steal = 100.0 * (st1 - st0) / max(1, tot1 - tot0)
        return {"steal_pct": round(steal, 3), "loadavg": [la0, la1]}


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def windows(seconds):
    return max(1, round(seconds / PASS_SECONDS))


def op_fastest(ops, key):
    """Each op's smallest `key` over its passes, in first-run order."""
    by = {}
    for o in ops:
        by[o["name"]] = min(by.get(o["name"], o[key]), o[key])
    return by


def run_beam(args, run_dir):
    """beam-pipelines: the eight batch pipelines, then the LeaderBoard stream
    (backlog drain, then the open loop), in one JVM."""
    rng = random.Random(args.seed)
    order = BEAM_PIPELINES[:]
    rng.shuffle(order)
    inp, data = inputs("batch", args.seed), inputs("stream", args.seed)
    meta, smeta = manifest(inp), manifest(data)
    out = os.path.join(run_dir, "out")
    params = dict(BEAM_PARAMS, **stream_params(run_dir, data),
                  workload="beam-pipelines", cores=CORES, trace=bool(args.trace),
                  result=os.path.join(run_dir, "result.json"), inputs=inp,
                  warm_inputs=inputs("batch-warm", 0), out=out, pipelines=order,
                  passes=BATCH_PASSES * windows(args.seconds))
    live = sorted(os.listdir(os.path.join(data, "live")))
    plan = os.path.join(run_dir, "live-plan.json")
    with open(plan, "w") as f:
        json.dump({"tick_ms": smeta["sizes"]["tick_ms"],
                   "files": [os.path.join(data, "live", n) for n in live]}, f)
    gen_log = os.path.join(run_dir, "generator.jsonl")

    def open_loop(stdin):
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "live",
                        plan, params["src"], gen_log], check=False,
                       stdin=subprocess.DEVNULL)
        stdin.write("generator done\n")
        stdin.flush()

    eng = Engine(args.cp, params, run_dir, on_drain=open_loop,
                 jvm_flags=args.jvm_flags)
    eng.run(timeout=170)
    res = load_result(run_dir)
    import check
    t0 = time.perf_counter()
    failures = {k: e for k, e in check.beam_batch(
        inp, [f"{out}/pass-{p}" for p in range(params["passes"])],
        BEAM_PARAMS).items() if e}
    failures.update(check.stream(params["src"], res, smeta))
    log(f"checks took {time.perf_counter() - t0:.1f}s")
    if args.trace:
        want = meta["game_rejects"] + meta["wiki_rejects"]
        got = res["layers"].get("io.parse_rejects")
        if got != want:
            failures["io.parse_rejects"] = f"{got} != generated {want}"
    ticks = [json.loads(x) for x in open(gen_log)]
    lat, lag, missing = stream_latency(params["ckpt"], ticks)
    if missing:
        failures["uncommitted_ticks"] = f"{missing} tick files never committed"
    q = max(1, len(lag) // 4)
    head, tail = statistics.fmean(lag[:q]), statistics.fmean(lag[-q:])
    if tail - head > max(5.0, head):
        failures["backlog_grew"] = f"input lag {head:.1f} -> {tail:.1f} files"
    slip = [(t["visible_ns"] - t["due_ns"]) / 1e6 for t in ticks]
    ms, cpu_ms = op_fastest(res["ops"], "ms"), op_fastest(res["ops"], "cpu_ms")
    drain_rate = smeta["backlog_events"] / res["drain_s"]
    diag = {"generator_late_ms_p50": quantile(slip, 0.5),
            "generator_late_ms_max": max(slip), "ticks": len(ticks),
            "input_lag_files_max": max(lag), "drain_s": res["drain_s"],
            "drain_rows_per_s": drain_rate, "drain_cpu_s": res["drain_cpu_s"],
            "loop_cpu_s": res["loop_cpu_s"]}
    # rows_per_s and cpu_s: the batch pipelines, each at its fastest pass.
    # The drain is one shot per run, too noisy to share their bounds (it is
    # the per-layer streaming.drain_rows_per_s), and the open loop's CPU
    # grows with the number of triggers, so a faster engine would read worse.
    rows = sum(meta[BEAM_ROWS[n]] for n in ms)
    values = {"rows_per_s": rows / (sum(ms.values()) / 1000),
              "latency_p50_ms": quantile(lat, 0.5),
              "latency_p95_ms": quantile(lat, 0.95),
              "cpu_s": sum(cpu_ms.values()) / 1000}
    layers = {"streaming.input_lag_files": float(max(lag)),
              "streaming.drain_rows_per_s": drain_rate,
              **{f"pipelines.{n}_ms": v for n, v in ms.items()}}
    return finish(args, eng, res, values, failures,
                  attempted=len(res["ops"]) + 1 + len(ticks), diag=diag,
                  extra_layers=layers)


def run_registry(args, run_dir):
    order = [q for fam in REGISTRY.values() for q in fam]
    check_dir = os.path.join(run_dir, "check")
    params = dict(workload="registry-mix", cores=CORES, trace=bool(args.trace),
                  result=os.path.join(run_dir, "result.json"), sf=SF,
                  warm_sf=WARM_SF, queries=order, check_dir=check_dir,
                  passes=windows(args.seconds))
    eng = Engine(args.cp, params, run_dir, jvm_flags=args.jvm_flags)
    eng.run(timeout=170)
    res = load_result(run_dir)
    import check
    t0 = time.perf_counter()
    missing = [q for q in order if q not in res["oracle_sql"]]
    failures = {q: e for q, e in check.registry(
        WARM_SF, f"{check_dir}/warm", order, res["oracle_sql"],
        os.path.join(WORK, "oracle-cache.json"), res["check_errors"]).items() if e}
    log(f"checks took {time.perf_counter() - t0:.1f}s")
    if missing:
        failures["oracle"] = f"no oracle SQL for {missing}"
    for g in res.get("layers", {}).pop("guard_failures", []):
        failures[f"guard:{g.split(':')[0]}"] = g
    table_rows = registry_table_rows()
    ms, cpu_ms = op_fastest(res["ops"], "ms"), op_fastest(res["ops"], "cpu_ms")
    rows = 0
    for q in ms:
        if q not in res["inputs"]:
            failures.setdefault(q, "no plan: the query failed to build")
        rows += sum(table_rows[t] for t in res["inputs"].get(q, []))
    # latency: each query's time from input to complete result
    values = {"rows_per_s": rows / (sum(ms.values()) / 1000),
              "latency_p50_ms": quantile(list(ms.values()), 0.5),
              "latency_p95_ms": quantile(list(ms.values()), 0.95),
              "cpu_s": sum(cpu_ms.values()) / 1000}
    return finish(args, eng, res, values, failures, attempted=len(res["ops"]))


def registry_table_rows():
    import pyarrow.parquet as pq
    import check
    return {t: pq.ParquetFile(f"{SF}/{t}.parquet").metadata.num_rows
            for t in check.TABLES if os.path.exists(f"{SF}/{t}.parquet")}


def stream_params(run_dir, data):
    """Copies the backlog into the watched directory (and the first
    WARM_FILES files into the warm-up one) and returns the deployment's
    params."""
    meta = manifest(data)
    s = meta["sizes"]
    src, warm_src = os.path.join(run_dir, "src"), os.path.join(run_dir, "warm-src")
    os.makedirs(src)
    os.makedirs(warm_src)
    backlog = sorted(os.listdir(os.path.join(data, "backlog")))
    # file order is modification-time order for Spark's file source
    base = time.time() - 120
    for i, name in enumerate(backlog):
        shutil.copyfile(os.path.join(data, "backlog", name), os.path.join(src, name))
        os.utime(os.path.join(src, name), (base + i * 0.01, base + i * 0.01))
        if i < WARM_FILES:
            shutil.copyfile(os.path.join(data, "backlog", name),
                            os.path.join(warm_src, name))
    return dict(src=src, ckpt=os.path.join(run_dir, "ckpt"), warm_src=warm_src,
                warm_ckpt=os.path.join(run_dir, "warm-ckpt"),
                window=f"{s['window_s']} seconds",
                lateness=f"{s['lateness_s']} seconds",
                max_files_per_trigger=s["max_files_per_trigger"],
                final_watermark_ms=meta["max_event_ms"] - s["lateness_s"] * 1000)


def stream_latency(ckpt, ticks):
    """Per tick: the later of the two queries' commit of the batch that read
    the tick's file, minus the time the tick was due. Also the input lag (files
    due but not yet committed) at each tick's due time."""
    commit_of = []
    for q in ("teams", "users"):
        batch_of = {}
        src_log = os.path.join(ckpt, q, "sources", "0")
        for n in os.listdir(src_log):
            if n.startswith("."):  # checksum side files
                continue
            with open(os.path.join(src_log, n)) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        batch_of[os.path.basename(e["path"])] = e["batchId"]
        commits = {int(n): os.stat(os.path.join(ckpt, q, "commits", n)).st_mtime_ns
                   for n in os.listdir(os.path.join(ckpt, q, "commits"))
                   if n.isdigit()}
        commit_of.append({f: commits.get(b) for f, b in batch_of.items()})
    done, missing = [], 0
    for t in ticks:
        cs = [c.get(t["file"]) for c in commit_of]
        if any(c is None for c in cs):
            missing += 1
            done.append(float("inf"))
        else:
            done.append(max(cs))
    lat = [(d - t["due_ns"]) / 1e6 for d, t in zip(done, ticks) if d != float("inf")]
    dues = [t["due_ns"] for t in ticks]
    lag = [sum(1 for j in range(i + 1) if done[j] > dues[i]) for i in range(len(ticks))]
    return lat, lag, missing


def load_result(run_dir):
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def finish(args, eng, res, values, failures, attempted, diag=None,
           extra_layers=None):
    """Prints the run record and returns the result JSON. `values` holds the
    workload's rows_per_s, latency percentiles and cpu_s."""
    for o in res["ops"]:
        if "error" in o:
            failures.setdefault(f"{o['name']}#{o['pass']}", o["error"])
    failed = min(attempted, len(failures))
    setup_s = eng.marks["window_start"][0]
    values = dict(values, rss_peak_mb=res["rss_peak_mb"], setup_s=setup_s)
    host = eng.host()
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "source_hash": args.source_hash, "commit": git_commit(),
              "steal_pct": host["steal_pct"], "loadavg": host["loadavg"],
              "session_start_s": res["session_start_s"],
              "window_s": res["window_s"], "ops_total": attempted,
              "ops_failed": failed, "failures": failures, **values,
              **(diag or {})}
    print("record " + json.dumps(record, sort_keys=True))
    for k, v in failures.items():
        log(f"FAILED {k}: {v}")
    if args.trace:
        layers = dict(res.get("layers", {}))
        layers.update(extra_layers or {})
        layers["trace.rows_per_s"] = values["rows_per_s"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec.PER_LAYER}
    else:
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec.END_TO_END}
    return {"correct": not failures, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL
                              ).stdout.strip() or None
    except OSError:
        return None


def self_test(args):
    """The whole-result guard: noop actions keep every operator kind of each
    registry-mix query, and the guard trips on count() for a query whose
    window Catalyst prunes. The stream half of the self-test (dropped rows
    equal the generator's beyond-lateness count) runs in every beam-pipelines
    run's checks."""
    run_dir = new_run_dir("self-test")
    order = [q for fam in REGISTRY.values() for q in fam]
    params = dict(workload="self-test", cores=CORES, trace=True,
                  result=os.path.join(run_dir, "result.json"), warm_sf=WARM_SF,
                  queries=order, guard_negative=GUARD_NEGATIVE)
    Engine(args.cp, params, run_dir, jvm_flags=args.jvm_flags).run(timeout=600)
    g = load_result(run_dir)["guard"]
    ok = g["noop_failures"] == "" and "WindowExec" in g["negative_missing"].split(",")
    print(json.dumps({"guard_noop_failures": g["noop_failures"],
                      "guard_count_negative_control_missing": g["negative_missing"],
                      "pass": ok}))
    return 0 if ok else 1


def new_run_dir(tag):
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    prune(runs, keep=3)  # the last few runs stay for inspection
    d = os.path.join(runs, f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}-{tag}")
    os.makedirs(d)
    return d


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", choices=[w["name"] for w in spec.WORKLOADS])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(
            os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no engine source under {ROOT}: run from a full checkout")
        return 2
    if not os.path.isdir(SF):
        log(f"missing test tables {SF}")
        return 2
    args.cp, args.source_hash, archive = classpath()
    args.jvm_flags = [f"-XX:SharedArchiveFile={archive}"] if archive else []
    if args.self_test:
        return self_test(args)
    if args.workload is None:
        ap.error("--workload is required")
    run_dir = new_run_dir(f"{args.workload}-{args.seed}")
    fn = {"beam-pipelines": run_beam, "registry-mix": run_registry}[args.workload]
    out = fn(args, run_dir)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
