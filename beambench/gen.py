#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Runs as its own single-threaded process, never inside the engine JVM.

  gen.py batch  <out_dir> <seed>   text, CSV and JSON inputs for beam-batch
  gen.py batch-warm <out_dir> <seed>  the same at 10% size, for warm-up
  gen.py stream <out_dir> <seed>   the gaming-stream backlog and open-loop plan
  gen.py live   <plan.json> <src_dir> <log.jsonl>
                                   the open-loop generator: writes the planned
                                   event files into <src_dir> on a fixed
                                   schedule, one file per tick

The same seed always yields byte-identical files. Every output directory gets a
`manifest.json` holding the row counts the checks need and a SHA-256 per file,
so a cached copy is verified before use (see `verify`).
"""
import hashlib
import json
import os
import sys
import time

import numpy as np

# ---------------------------------------------------------------- shared ---

WORDS = 30000          # vocabulary size of the generated text
EPOCH_MS = 1_700_000_000_000  # 2023-11-14T22:13:20Z, start of event time


def vocab(rng):
    """Distinct ASCII words, ~10% capitalised, Zipf-ranked by index."""
    lens = rng.integers(3, 11, size=WORDS * 2)
    letters = rng.integers(0, 26, size=int(lens.sum()))
    chars = (letters + ord("a")).astype(np.uint8).tobytes().decode("ascii")
    out, seen, pos = [], set(), 0
    for n in lens:
        w = chars[pos:pos + n]
        pos += n
        if w not in seen:
            seen.add(w)
            out.append(w)
        if len(out) == WORDS:
            break
    caps = rng.random(WORDS) < 0.1
    return np.array([w.capitalize() if c else w for w, c in zip(out, caps)],
                    dtype=object)


def zipf_indices(rng, n, size, s=1.1):
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def text_block(rng, words, n_lines, mean_words):
    """`n_lines` lines of Zipf-drawn words joined by mixed separators
    (punctuation and digits are separators for every tokenizer in the
    engine), as one newline-terminated string."""
    counts = np.maximum(1, rng.poisson(mean_words, size=n_lines))
    n = int(counts.sum())
    toks = words[zipf_indices(rng, len(words), n)]
    seps = np.array([" ", " ", " ", " ", ", ", ". ", " - ", " 42 ", "; "],
                    dtype=object)[rng.integers(0, 9, size=n)]
    seps[np.cumsum(counts) - 1] = "\n"
    return "".join((toks + seps).tolist())


def write_lines(path, lines):
    with open(path, "w", encoding="ascii", newline="\n") as f:
        f.write("\n".join(lines))
        f.write("\n")


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def finish(out_dir, meta):
    files = {}
    for root, _, names in os.walk(out_dir):
        for n in sorted(names):
            p = os.path.join(root, n)
            if n != "manifest.json":
                files[os.path.relpath(p, out_dir)] = sha256(p)
    meta["files"] = files
    tmp = os.path.join(out_dir, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out_dir, "manifest.json"))


def verify(out_dir):
    """True iff `out_dir` holds a complete manifest whose checksums match."""
    try:
        with open(os.path.join(out_dir, "manifest.json")) as f:
            meta = json.load(f)
        on_disk = set()
        for root, _, names in os.walk(out_dir):
            for n in names:
                if n != "manifest.json":
                    on_disk.add(os.path.relpath(os.path.join(root, n), out_dir))
        return on_disk == set(meta["files"]) and all(
            sha256(os.path.join(out_dir, p)) == h
            for p, h in meta["files"].items())
    except (OSError, ValueError, KeyError):
        return False


# ------------------------------------------------------------ beam-batch ---

BATCH = {
    "corpus_lines": 14_400,     # WordCount + AutoComplete input
    "corpus_files": 6,
    "docs": 12,                 # TfIdf: one document per file
    "doc_lines": 200,
    "game_lines": 48_000,       # UserScore + HourlyTeamScore input
    "game_files": 6,
    "traffic_rows": 6_000,      # TrafficMaxLaneFlow + TrafficRoutes input
    "traffic_files": 6,
    "wiki_lines": 24_000,       # TopWikipediaSessions input
    "wiki_files": 6,
    "malformed_share": 0.01,    # per CSV/JSON input, rows the parsers reject
}

# TrafficRoutes' hard-wired stations (ReferencePipelines.sdStations)
SD_STATIONS = ["1108413", "1108699", "1108702"]


def split_write(dirpath, stem, ext, lines, parts):
    os.makedirs(dirpath, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(lines)), parts)):
        write_lines(os.path.join(dirpath, f"{stem}-{i:02d}.{ext}"),
                    [lines[j] for j in chunk])


def gen_batch(out, seed, scale=1.0):
    rng = np.random.default_rng([seed, 1])
    words = vocab(rng)
    b = {k: (max(1, int(v * scale)) if isinstance(v, int) else v)
         for k, v in BATCH.items()}
    meta = {"workload": "beam-batch", "seed": seed, "sizes": b}

    os.makedirs(f"{out}/corpus", exist_ok=True)
    per = b["corpus_lines"] // b["corpus_files"]
    for i in range(b["corpus_files"]):
        with open(f"{out}/corpus/corpus-{i:02d}.txt", "w") as f:
            f.write(text_block(rng, words, per, 12))
    meta["corpus_lines"] = per * b["corpus_files"]

    os.makedirs(f"{out}/docs", exist_ok=True)
    for d in range(b["docs"]):
        with open(f"{out}/docs/doc-{d:04d}.txt", "w") as f:
            f.write(text_block(rng, words, b["doc_lines"], 10))
    meta["doc_lines"] = b["docs"] * b["doc_lines"]

    # game events: user,team,score,timestamp_ms,readable over two days
    n = b["game_lines"]
    users = rng.integers(0, 20000, size=n)
    teams = users % 97
    scores = rng.integers(0, 20, size=n)
    ts = EPOCH_MS + rng.integers(0, 2 * 86_400_000, size=n)
    game = [f"user{u},Team{t},{s},{m},x" for u, t, s, m in
            zip(users.tolist(), teams.tolist(), scores.tolist(), ts.tolist())]
    bad = np.flatnonzero(rng.random(n) < b["malformed_share"])
    shapes = [lambda u: f"user{u},Team1,notanumber,{EPOCH_MS},x",
              lambda u: f"user{u},Team1",
              lambda u: f" ,Team1,5,{EPOCH_MS},x",
              lambda u: f"user{u},Team1,7,yesterday,x"]
    for k, i in enumerate(bad.tolist()):
        game[i] = shapes[k % 4](users[i])
    split_write(f"{out}/game", "game", "csv", game, b["game_files"])
    meta["game_lines"] = n
    meta["game_rejects"] = len(bad)

    # traffic: 52-field freeway sensor rows over one day; lane fields sit at
    # 0-based 11..50 (the parser reads flow/occupancy/speed at 6+5i..8+5i)
    n = b["traffic_rows"]
    stations = [str(s) for s in SD_STATIONS] + [str(1200000 + i) for i in range(300)]
    st_idx = np.where(rng.random(n) < 0.2, rng.integers(0, 3, size=n),
                      rng.integers(3, len(stations), size=n))
    secs = rng.integers(0, 86_400, size=n)
    flows = rng.integers(0, 400, size=(n, 8))
    occ = rng.integers(0, 1000, size=(n, 8))     # thousandths
    speed = rng.integers(200, 800, size=(n, 8))  # tenths of mph
    empty = rng.random((n, 8)) < 0.05
    kinds = np.array(["ML", "ML", "ML", "OR"])[rng.integers(0, 4, size=n)]
    occ_s = [f"0.{x:03d}" for x in range(1000)]
    spd_s = [f"{x // 10}.{x % 10}" for x in range(800)]
    head = [f"11/15/2023 {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d},"
            f"{stations[k]},5,N,{kd},1.5,0,{tf},{om:.3f},{sm:.1f},1"
            for s, k, kd, tf, om, sm in zip(
                secs.tolist(), st_idx.tolist(), kinds.tolist(),
                flows.sum(axis=1).tolist(), (occ.mean(axis=1) / 1000).tolist(),
                (speed.mean(axis=1) / 10).tolist())]
    lanes = [",".join(",,,,1" if e else f"{f},{occ_s[o]},{spd_s[v]},0,1"
                      for f, o, v, e in zip(fr, orow, vrow, erow))
             for fr, orow, vrow, erow in zip(flows.tolist(), occ.tolist(),
                                              speed.tolist(), empty.tolist())]
    traffic = [f"{h},{ln},0" for h, ln in zip(head, lanes)]
    bad = np.flatnonzero(rng.random(n) < b["malformed_share"])
    for i in bad.tolist():
        traffic[i] = ",".join(traffic[i].split(",")[:30])  # short row
    split_write(f"{out}/traffic", "traffic", "csv", traffic, b["traffic_files"])
    meta["traffic_rows"] = n
    meta["traffic_rejects"] = len(bad)

    # wiki edits: per-user event streams with cumulative gaps, so sessions
    # (1 h gap) come from the data, never from a tie at exactly 3600 s
    n = b["wiki_lines"]
    users = np.sort(zipf_indices(rng, 5000, n, s=0.8))
    gaps = rng.choice(np.array([30, 300, 1200, 2400, 4000, 9000, 90000]),
                      size=n, p=[.3, .3, .15, .1, .07, .05, .03])
    gaps = gaps + rng.integers(0, 29, size=n)
    first = np.r_[True, users[1:] != users[:-1]]
    starts = 1_672_531_200 + rng.integers(0, 200 * 86_400, size=n)
    steps = np.where(first, 0, gaps).cumsum()
    group_first = np.flatnonzero(first)[np.cumsum(first) - 1]
    tsec = starts[group_first] + steps - steps[group_first]
    order = rng.permutation(n)
    wiki = ['{"contributor_username":"wu%d","timestamp":%d,"title":"Page_%d"}'
            % (u, t, j % 977) for u, t, j in
            zip(users[order].tolist(), tsec[order].tolist(), order.tolist())]
    bad = np.flatnonzero(rng.random(n) < b["malformed_share"])
    for k, i in enumerate(bad.tolist()):
        wiki[i] = (wiki[i][:25] if k % 2 else
                   '{"title":"Page_%d","timestamp":%d}' % (i, tsec[0]))
    split_write(f"{out}/wiki", "wiki", "json", wiki, b["wiki_files"])
    meta["wiki_lines"] = n
    meta["wiki_rejects"] = len(bad)
    finish(out, meta)


# --------------------------------------------------------- gaming-stream ---

STREAM = {
    "users": 2000,
    "teams": 40,
    "backlog_files": 100,
    "backlog_events": 250,    # per backlog file
    "ticks": 250,             # open-loop ticks (>= 200 for p95 + 10 samples)
    "tick_ms": 40,            # one file per tick: 25 files/s
    "tick_events": 300,       # 7,500 events/s offered in the open loop
    "event_span_ms": 1000,    # event time advanced per file
    "window_s": 30,
    "lateness_s": 10,
    "ooo_share": 0.05,        # out of order, within allowed lateness
    "late_every": 4,          # every 4th file carries one event beyond lateness
    # one drain trigger of 100 files; the open loop offers ~25 files per
    # ~1 s trigger, so the cap binds there only if a trigger slows past 4 s
    "max_files_per_trigger": 100,
}


def stream_file(rng, idx, s, n_events, late_counter):
    """One event file: ts_ms,user_id,team,value. Event time advances
    `event_span_ms` per file; a share arrives out of order within lateness,
    and every `late_every`-th file carries one event beyond allowed
    lateness, each in its own window, so the engine drops exactly one
    aggregate row per such event. Spark judges late rows against the
    previous trigger's watermark, so the first two triggers drop nothing:
    no file among the first 2 * max_files_per_trigger carries such an
    event, and those cover at least the first two triggers."""
    base = EPOCH_MS + idx * s["event_span_ms"]
    ts = base + rng.integers(0, s["event_span_ms"], size=n_events)
    ooo = rng.random(n_events) < s["ooo_share"]
    lat = s["lateness_s"] * 1000
    ts = np.where(ooo, base - rng.integers(lat // 4, 3 * lat // 4,
                                           size=n_events), ts)
    users = rng.integers(0, s["users"], size=n_events)
    teams = users % s["teams"]
    values = rng.integers(1, 50, size=n_events)
    late = 0
    if idx >= 2 * s["max_files_per_trigger"] and idx % s["late_every"] == 0:
        win = s["window_s"] * 1000
        ts[0] = EPOCH_MS - (late_counter + 1) * win - 17
        late = 1
    rows = [f"{t},u{u},team{m},{v}" for t, u, m, v in
            zip(ts.tolist(), users.tolist(), teams.tolist(), values.tolist())]
    return rows, late, int(ts.max())


def gen_stream(out, seed):
    rng = np.random.default_rng([seed, 2])
    s = STREAM
    os.makedirs(f"{out}/backlog", exist_ok=True)
    late_total = 0
    max_ts = 0
    for i in range(s["backlog_files"]):
        rows, late, mx = stream_file(rng, i, s, s["backlog_events"], late_total)
        late_total += late
        max_ts = max(max_ts, mx)
        write_lines(f"{out}/backlog/ev-{i:06d}.csv", rows)
    meta = {"workload": "gaming-stream", "seed": seed, "sizes": s,
            "backlog_events": s["backlog_files"] * s["backlog_events"],
            "backlog_late": late_total}
    # the open-loop ticks are fully planned here, so the live generator
    # only copies bytes on schedule and the content never depends on timing
    os.makedirs(f"{out}/live", exist_ok=True)
    live_late = 0
    for t in range(s["ticks"]):
        idx = s["backlog_files"] + t
        rows, late, mx = stream_file(rng, idx, s, s["tick_events"],
                                     late_total + live_late)
        live_late += late
        max_ts = max(max_ts, mx)
        write_lines(f"{out}/live/ev-{idx:06d}.csv", rows)
    meta["live_events"] = s["ticks"] * s["tick_events"]
    meta["live_late"] = live_late
    meta["max_event_ms"] = max_ts
    finish(out, meta)


def live(plan_path, src_dir, log_path):
    """Open loop: tick k's file is due at start + k * tick_ms, whatever the
    engine is doing. Each file is written under a hidden name and renamed
    into the watched directory; the log records when each tick was due and
    when its file became visible."""
    with open(plan_path) as f:
        plan = json.load(f)
    tick_ns = plan["tick_ms"] * 1_000_000
    files = plan["files"]
    payloads = []
    for p in files:
        with open(p, "rb") as f:
            payloads.append(f.read())
    start = time.time_ns() + 20_000_000
    with open(log_path, "w") as log:
        for k, (p, data) in enumerate(zip(files, payloads)):
            due = start + k * tick_ns
            wait = due - time.time_ns()
            if wait > 0:
                time.sleep(wait / 1e9)
            name = os.path.basename(p)
            tmp = os.path.join(src_dir, "." + name + ".tmp")
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, os.path.join(src_dir, name))
            log.write(json.dumps({"file": name, "due_ns": due,
                                  "visible_ns": time.time_ns()}) + "\n")


def main(argv):
    mode = argv[1]
    if mode == "live":
        live(argv[2], argv[3], argv[4])
        return
    out, seed = argv[2], int(argv[3])
    os.makedirs(out, exist_ok=True)
    if mode == "batch-warm":  # the small warm-up set: 10% of every input
        gen_batch(out, seed, scale=0.1)
    else:
        {"batch": gen_batch, "stream": gen_stream}[mode](out, seed)


if __name__ == "__main__":
    main(sys.argv)
