#!/usr/bin/env python3
"""Seeded load generator for the detector pipeline benchmark.

Runs as its own single-threaded process; the system under test only ever
sees the files written here.

  gen.py make --profile network|showers|tiny --seed N --events N --out DIR
              [--stream --backlog N --rate EV_PER_S --slot-ms MS]
      writes DIR/events.parquet (the batch input and the batch twin of the
      stream) and DIR/manifest.json (input digest + profile stats). With
      --stream it also writes the same events as wire-line JSON files:
      the backlog straight into DIR/in/, the live files into DIR/live/,
      each with its due offset in the manifest.

  gen.py feed --dir DIR --t0 EPOCH_S
      the open loop: moves live file k from DIR/live/ into DIR/in/ at
      t0 + offset_k (atomic rename, never early) and writes DIR/feed.json
      with the due and actual times of every move.

Profiles (see README.md for why each exists):
  network  ~N/40 stations on the key-derived grid with churn, Poisson
           singles at the sf0.1 density (one hit per ~26 s network-wide),
           20 % fix = 0, 10 % unreliable stations, rare extreme spikes.
  showers  100 stations, ~85 % of hits in multi-station bursts of
           150-1500 hits at ~1 hit/s (one gap session each), the rest
           sparse singles; time accuracy chosen so most hits pass the gate.
  tiny     a small network profile (warm-up input, tests).
"""
import argparse
import hashlib
import json
import os
import sys
import time

os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")  # one thread, by design
import numpy as np  # noqa: E402

BASE_US = 1704067200 * 1000000  # 2024-01-01T00:00:00Z, the corpus epoch
EVENT_TYPES = np.array(["click", "view", "purchase", "signup"])
# DetectorApp's gate rules, mirrored to report the expected forward ratio
# and to pick a flush station (StreamingRegistry.fold / DetectorApp.gateFold).
DETINFO_FIELDS = 6
R5_MAX_TIME_ACC = 500
EXTREME_CENTS = 30000
F_TIME_DIVISOR, UPPER_BAND, LOWER_BAND = 50.0, 1.15, 0.85
FLUSH_AFTER_US = 2 * 3600 * 1000000
MAX_BURST = 200


def _station_ids(rng, n, distinct_grid):
    """Station keys; the grid position is key % 10 and (key // 10) % 10."""
    if distinct_grid:
        pos = rng.permutation(100)[:n]
        return pos + 100 * rng.choice(np.arange(1, 100000), n, replace=False)
    return rng.choice(np.arange(1, 10_000_000), n, replace=False)


def network(rng, n):
    n_st = max(8, n // 40)
    span_us = 26 * n * 1000000
    ids = _station_ids(rng, n_st, False)
    founders = rng.random(n_st) < 0.4
    birth = np.where(founders, 0, rng.integers(0, int(0.8 * span_us), n_st))
    death = np.minimum(span_us,
                       birth + rng.integers(int(0.2 * span_us), int(1.2 * span_us), n_st))
    t = np.sort(rng.integers(0, span_us, n))
    st = rng.integers(0, n_st, n)
    bad = ~((birth[st] <= t) & (t < death[st]))
    while bad.any():
        st[bad] = rng.integers(0, n_st, int(bad.sum()))
        bad = ~((birth[st] <= t) & (t < death[st]))
    unreliable = rng.random(n_st) < 0.10
    tenths = np.where(unreliable[st], rng.integers(450, 900, n), rng.integers(20, 450, n))
    spike = rng.random(n) < 0.005
    tenths = np.where(spike, rng.integers(3001, 4000, n), tenths)
    fix0 = rng.random(n) < 0.20
    return t, ids[st], tenths, fix0


def showers(rng, n):
    """Bursts with a power-law size spectrum (count ~ size^-2, so every
    decade of burst size holds about the same number of hits): many 2-10
    hit showers, a few bursts of hundreds of hits at ~1 hit/s that each
    form one gap session; sparse singles in between. Big bursts sit in a
    few hot hours, so hour buckets are skewed."""
    n_st = 100
    ids = _station_ids(rng, n_st, True)
    n_burst = int(0.85 * n)
    sizes = []
    while sum(sizes) < n_burst:
        u = rng.random()
        sizes.append(int(2 / (1 - u * (1 - 2 / MAX_BURST))))  # Pareto(1) on [2, max]
    sizes[-1] -= sum(sizes) - n_burst
    if sizes[-1] < 2:
        last = sizes.pop()
        sizes[-1] += last
    sizes = np.array(sizes)
    n_bg = n - n_burst
    span_us = max(150 * n_bg, 100 * len(sizes)) * 1_000_000
    hours = max(2, span_us // 3_600_000_000)
    hot = rng.choice(hours, max(1, hours // 10), replace=False)
    big = sizes >= 100
    hour = np.where(big, hot[rng.integers(0, len(hot), len(sizes))],
                    rng.integers(0, hours, len(sizes)))
    starts = np.sort(hour * 3_600_000_000 + rng.integers(0, 3_600_000_000, len(sizes)))
    order = rng.permutation(len(sizes))
    parts = []
    prev_end = -1
    for s0, k in zip(starts, sizes[order]):
        s0 = max(int(s0), prev_end + 120_000_000)  # bursts stay separate sessions
        dur = max(2, int(k)) * 1_000_000  # ~1 hit/s
        parts.append(s0 + np.sort(rng.integers(0, dur, int(k))))
        prev_end = s0 + dur
    span_us = max(span_us, prev_end + 1)
    parts.append(rng.integers(0, span_us, n_bg))
    t = np.sort(np.concatenate(parts))
    st = rng.integers(0, n_st, n)
    tenths = rng.integers(20, 300, n)
    fix0 = rng.random(n) < 0.05
    return t, ids[st], tenths, fix0


PROFILES = {"network": network, "showers": showers, "tiny": network}


def make_events(profile, seed, n):
    """Column arrays of the events table, ordered by ts."""
    rng = np.random.default_rng([seed, sum(map(ord, profile))])
    t, user, tenths, fix0 = PROFILES[profile](rng, n)
    etype = np.where(fix0, "error", EVENT_TYPES[rng.integers(0, 4, n)])
    return {
        "event_id": rng.permutation(n).astype(np.int64),
        "ts_us": (BASE_US + t).astype(np.int64),
        "user_id": user.astype(np.int64),
        "event_type": etype.astype(object),
        "tenths": tenths.astype(np.int64),
    }


def gate_replay(ev):
    """DetectorApp's per-station gate over the global event-time order:
    (forwarded mask per event, final (mask, status) per station)."""
    n = len(ev["event_id"])
    order = np.lexsort((ev["event_type"] != "error", ev["tenths"],
                        ev["event_id"] % 65536, ev["ts_us"] // 1000 * 1000,
                        ev["user_id"]))
    fwd = np.zeros(n, dtype=bool)
    state = {}
    for i in order:
        eid = int(ev["event_id"][i])
        if eid % 89 == 0 or eid % 97 == 0:
            continue  # wire rejects never reach the gate
        stn = int(ev["user_id"][i])
        mask, cnt, s, status = state.get(stn, (0, 0, 0, "created"))
        acc = int(ev["tenths"][i])
        mask |= 1 << ((eid % 65536) % DETINFO_FIELDS)
        cnt += 1
        s += acc * 10
        f_time = (s / 100.0 / cnt) / F_TIME_DIVISOR
        if acc * 10 > EXTREME_CENTS or f_time > UPPER_BAND:
            status = "unreliable"
        elif f_time < LOWER_BAND:
            status = "reliable"
        state[stn] = (mask, cnt, s, status)
        fwd[i] = (mask == (1 << DETINFO_FIELDS) - 1 and status == "reliable"
                  and ev["event_type"][i] != "error" and acc <= R5_MAX_TIME_ACC)
    return fwd, state


def add_flush(ev, state):
    """Append one gate-passing hit two hours after the last event: it lifts
    the stream's event-time watermark past every earlier session, so each
    expected cluster can seal. Part of the input, so the batch twin sees it."""
    good = sorted(k for k, (m, c, s, st) in state.items()
                  if m == (1 << DETINFO_FIELDS) - 1 and st == "reliable"
                  and (s + 100) / 100.0 / (c + 1) / F_TIME_DIVISOR < LOWER_BAND)
    eid = len(ev["event_id"])
    while eid % 89 == 0 or eid % 97 == 0:
        eid += 1
    row = {"event_id": eid, "ts_us": int(ev["ts_us"][-1]) + FLUSH_AFTER_US,
           "user_id": good[0], "event_type": "click", "tenths": 10}
    return {k: np.append(v, np.array([row[k]], dtype=v.dtype)) for k, v in ev.items()}


def digest(ev):
    h = hashlib.sha256()
    for k in ("event_id", "ts_us", "user_id", "tenths"):
        h.update(ev[k].tobytes())
    h.update("\n".join(ev["event_type"]).encode())
    return h.hexdigest()[:16]


def write_parquet(ev, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    tbl = pa.table({
        "event_id": pa.array(ev["event_id"]),
        "ts": pa.array(ev["ts_us"], type=pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"]),
        "event_type": pa.array(list(ev["event_type"]), type=pa.string()),
        "value": pa.array(ev["tenths"] / 10.0),
        "props": pa.array([None] * len(ev["event_id"]), type=pa.string()),
    })
    pq.write_table(tbl, path)


def wire_lines(ev, lo, hi):
    """Wire lines of events [lo, hi) — the same lines Wire.wireLines
    synthesizes from the events table (1/89 cluster topic, 1/97 malformed
    time field), so the stream and its batch twin read identical input."""
    out = []
    for i in range(lo, hi):
        eid = int(ev["event_id"][i])
        user = int(ev["user_id"][i])
        start = int(ev["ts_us"][i]) * 1000
        end = start + (eid % 1000) * 1000
        topic = ("muonpi/data/cluster/st0" if eid % 89 == 0
                 else f"muonpi/data/u{user}/st{user % 3}")
        f0 = (".12345678901234567" if eid % 97 == 0
              else f"{start // 1000000000}.{start % 1000000000:09d}")
        f1 = f"{end // 1000000000}.{end % 1000000000:09d}"
        fix = 0 if ev["event_type"][i] == "error" else 1
        payload = f"{f0} {f1} {int(ev['tenths'][i])} {eid % 65536} {fix} 1 1"
        out.append(json.dumps({"topic": topic, "payload": payload}))
    return out


def write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def session_sizes(ts_us, fwd, gap_us=30_000_000):
    """Gap-session sizes over the forwarded hits (the sessionize layer's input)."""
    t = np.sort(ts_us[fwd])
    if len(t) == 0:
        return np.array([0])
    cut = np.flatnonzero(np.diff(t) > gap_us)
    return np.diff(np.concatenate(([0], cut + 1, [len(t)])))


def stats(ev, fwd):
    sz = session_sizes(ev["ts_us"], fwd)
    q = np.quantile(sz, [0.5, 0.9, 0.99, 1.0]).tolist()
    span_s = (int(ev["ts_us"][-1]) - int(ev["ts_us"][0])) / 1e6
    last_day = ev["ts_us"] >= ev["ts_us"][-1] - 86_400_000_000
    return {
        "events": int(len(fwd)),
        "stations_ever": int(len(np.unique(ev["user_id"]))),
        "stations_active_last_day": int(len(np.unique(ev["user_id"][last_day]))),
        "span_s": round(span_s, 1),
        "gate_forward_ratio": round(float(fwd.mean()), 4),
        "sessions": int(len(sz)),
        "session_size_p50_p90_p99_max": [round(x, 1) for x in q],
        "multi_hit_sessions": int((sz >= 2).sum()),
    }


def cmd_make(a):
    t0 = time.time()
    os.makedirs(a.out, exist_ok=True)
    ev = make_events(a.profile, a.seed, a.events)
    fwd, state = gate_replay(ev)
    if a.stream:
        ev = add_flush(ev, state)
        fwd, state = gate_replay(ev)
        assert fwd[-1], "flush hit must pass the gate"
    write_parquet(ev, os.path.join(a.out, "events.parquet"))
    man = {"profile": a.profile, "seed": a.seed, "digest": digest(ev),
           "stats": stats(ev, fwd)}
    if a.stream:
        n = len(ev["event_id"])
        backlog = min(a.backlog, n)
        per_file = max(1, int(a.rate * a.slot_ms / 1000))
        os.makedirs(os.path.join(a.out, "in"), exist_ok=True)
        os.makedirs(os.path.join(a.out, "live"), exist_ok=True)
        files = []
        chunk = max(1, -(-backlog // 8))
        for k, lo in enumerate(range(0, backlog, chunk)):
            hi = min(backlog, lo + chunk)
            name = f"b{k:05d}.json"
            write_lines(os.path.join(a.out, "in", name), wire_lines(ev, lo, hi))
            files.append({"name": name, "phase": "backlog", "lines": hi - lo,
                          "t_lo_ns": int(ev["ts_us"][lo]) * 1000,
                          "t_hi_ns": int(ev["ts_us"][hi - 1]) * 1000})
        for k, lo in enumerate(range(backlog, n, per_file)):
            hi = min(n, lo + per_file)
            name = f"l{k:05d}.json"
            write_lines(os.path.join(a.out, "live", name), wire_lines(ev, lo, hi))
            files.append({"name": name, "phase": "live", "lines": hi - lo,
                          "offset_s": k * a.slot_ms / 1000.0,
                          "t_lo_ns": int(ev["ts_us"][lo]) * 1000,
                          "t_hi_ns": int(ev["ts_us"][hi - 1]) * 1000})
        man["stream"] = {"backlog_events": backlog, "live_events": n - backlog,
                         "rate_events_per_s": a.rate, "slot_ms": a.slot_ms,
                         "files": files}
    man["gen_s"] = round(time.time() - t0, 3)
    with open(os.path.join(a.out, "manifest.json"), "w") as f:
        json.dump(man, f)
    print(json.dumps({"digest": man["digest"], "stats": man["stats"]}))


def cmd_feed(a):
    man = json.load(open(os.path.join(a.dir, "manifest.json")))
    log = []
    for f in man["stream"]["files"]:
        if f["phase"] != "live":
            continue
        due = a.t0 + f["offset_s"]
        while True:
            now = time.time()
            if now >= due:
                break
            time.sleep(min(0.05, due - now))
        os.rename(os.path.join(a.dir, "live", f["name"]),
                  os.path.join(a.dir, "in", f["name"]))
        log.append({"name": f["name"], "due": due, "moved": time.time()})
    with open(os.path.join(a.dir, "feed.json.tmp"), "w") as out:
        json.dump(log, out)
    os.rename(os.path.join(a.dir, "feed.json.tmp"), os.path.join(a.dir, "feed.json"))


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    m = sub.add_parser("make")
    m.add_argument("--profile", choices=sorted(PROFILES), required=True)
    m.add_argument("--seed", type=int, required=True)
    m.add_argument("--events", type=int, required=True)
    m.add_argument("--out", required=True)
    m.add_argument("--stream", action="store_true")
    m.add_argument("--backlog", type=int, default=0)
    m.add_argument("--rate", type=float, default=3000.0)
    m.add_argument("--slot-ms", type=int, default=1000)
    f = sub.add_parser("feed")
    f.add_argument("--dir", required=True)
    f.add_argument("--t0", type=float, required=True)
    a = p.parse_args(argv)
    (cmd_make if a.cmd == "make" else cmd_feed)(a)


if __name__ == "__main__":
    main(sys.argv[1:])
