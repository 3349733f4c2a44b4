"""Seeded input generator for the perfbench workloads.

Everything the Scala harness reads is written here, from `--seed` alone:
the program under test receives only files.

  python3 perfbench/gen.py --workload forecast_pipeline --seed 1 --out DIR

writes the inputs of one workload into DIR plus `manifest.json`, which
carries the generator's own accounting (expected join size, label noise,
the serve-cycle plan and the rows each cycle must append) that the
harness checks the program's outputs against. `--workload corpus` writes
the `documents`/`embeddings` parquet pair of the dedup slice.
"""
import argparse
import datetime as dt
import json
import math
import os
import random

# ---------------------------------------------------------------- forecast

YEAR = 2015
STATION = 260
TRAIN_ROWS = 7000          # HistoricalTraining.temporalSplit(features, 7000)
NOISE_SD = 60.0            # label noise (vehicles/hour), known to the checks
WINDOWS = 20               # serve windows, more than any run uses
SERVE_ANCHOR = dt.datetime(2024, 1, 8, 6, 0)   # local wall clock, +01:00
# The one payload the benchmark expects to fail: ISO 8601 DateTimes
# without seconds. It is fixed (seed-independent) so the failed share
# of a run is the same for every seed.
SECONDSLESS_START = dt.datetime(2024, 3, 1, 7, 0)


def easter(year):
    a, b, c = year % 19, year // 100, year % 100
    d, e = b // 4, b % 4
    f = (b + 8) // 25
    g = (b - f + 1) // 3
    h = (19 * a + b - d - g + 15) % 30
    i, k = c // 4, c % 4
    l = (32 + 2 * e + 2 * i - h - k) % 7
    m = (a + 11 * h + 22 * l) // 451
    month = (h + l - 7 * m + 114) // 31
    day = (h + l - 7 * m + 114) % 31 + 1
    return dt.date(year, month, day)


def nl_holidays(year):
    e = easter(year)
    kd = dt.date(year, 4, 27) if year >= 2014 else dt.date(year, 4, 30)
    if kd.weekday() == 6:
        kd -= dt.timedelta(days=1)
    return {dt.date(year, 1, 1), e - dt.timedelta(days=2), e,
            e + dt.timedelta(days=1), kd, dt.date(year, 5, 5),
            e + dt.timedelta(days=39), e + dt.timedelta(days=49),
            e + dt.timedelta(days=50), dt.date(year, 12, 25),
            dt.date(year, 12, 26)}


def hourly_profile(hour, weekday):
    """Expected vehicles/hour: commuter peaks on weekdays, a flat
    midday hump at weekends."""
    if weekday < 5:
        return (300 + 900 * math.exp(-((hour - 8) / 1.5) ** 2)
                + 800 * math.exp(-((hour - 17) / 2.0) ** 2)
                + 250 * math.exp(-((hour - 13) / 4.0) ** 2))
    return 250 + 500 * math.exp(-((hour - 14) / 4.0) ** 2)


def gen_forecast(seed, out):
    rng = random.Random(seed * 7919 + 1)
    days = [dt.date(YEAR, 1, 1) + dt.timedelta(days=i) for i in range(365)]
    weather_missing = set(rng.sample(days[1:-1], 4))
    traffic_missing = set(rng.sample(days[1:-1], 6))
    holidays = nl_holidays(YEAR)

    w_lines = ["# STN,YYYYMMDD,H,FH,T,RH,R"]
    temp_c = {}
    precip = {}
    n_sentinel = n_negative = 0
    for d in days:
        if d in weather_missing:
            continue
        doy = d.timetuple().tm_yday
        base_t = 100 - 85 * math.cos(2 * math.pi * (doy - 20) / 365.0)
        for h in range(1, 25):
            t = int(round(base_t + 40 * math.sin(2 * math.pi * (h - 9) / 24.0)
                          + rng.gauss(0, 15)))
            fh = max(0, int(rng.gauss(45, 20)))
            u = rng.random()
            rh = -1 if u < 0.06 else (int(rng.expovariate(1 / 8.0)) + 1
                                      if u < 0.16 else 0)
            r = 1 if rh != 0 else 0
            n_sentinel += rh == -1
            n_negative += t < 0
            w_lines.append(f"{STATION},{d:%Y%m%d},{h},{fh},{t},{rh},{r}")
            # cleanWeather: H=24 becomes hour 0 of the SAME date
            key = (d.isoformat(), 0 if h == 24 else h)
            temp_c[key] = int(t * 0.1)   # tenthsToUnit truncates toward 0
            precip[key] = r

    t_lines = [",Date,Hour,Count,longitude,latitude"]
    idx = 0
    joined = 0
    counts = []
    for d in days:
        if d in traffic_missing:
            continue
        for h in range(24):
            key = (d.isoformat(), h)
            tc = temp_c.get(key, 10)
            mean = hourly_profile(h, d.weekday())
            if d in holidays:
                mean *= 0.55
            mean += 6.0 * tc - 120.0 * precip.get(key, 0)
            c = max(0.0, round(mean + rng.gauss(0, NOISE_SD), 1))
            t_lines.append(f"{idx},{d.isoformat()},{h},{c},5.1442,52.0841")
            idx += 1
            if key in temp_c:
                joined += 1
                counts.append(c)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "weather.csv"), "w") as f:
        f.write("\n".join(w_lines) + "\n")
    with open(os.path.join(out, "traffic.csv"), "w") as f:
        f.write("\n".join(t_lines) + "\n")

    # ---- serve payloads: 12-hour windows, each with its copy shifted by
    # 6 h (half new); a replay re-serves the window's own payload.
    pay_dir = os.path.join(out, "payloads")
    os.makedirs(pay_dir, exist_ok=True)

    def hour_values(local):
        r = random.Random(seed * 1000003 + int(local.timestamp()) // 3600)
        unit = "F" if r.random() < 0.5 else "C"
        c = round(r.uniform(-6.0, 14.0), 1)
        value = round(c * 9 / 5 + 32, 1) if unit == "F" else c
        wind = round(r.uniform(3.0, 40.0), 1)
        return unit, value, wind, r.random() < 0.3

    def payload(start, seconds=True):
        recs = []
        for i in range(12):
            local = start + dt.timedelta(hours=i)
            unit, value, wind, wet = hour_values(local)
            stamp = local.strftime("%Y-%m-%dT%H:%M:%S" if seconds
                                   else "%Y-%m-%dT%H:%M") + "+01:00"
            recs.append({
                "DateTime": stamp,
                "EpochDateTime": int((local - dt.timedelta(hours=1))
                                     .replace(tzinfo=dt.timezone.utc)
                                     .timestamp()),
                "WeatherIcon": 7, "IconPhrase": "Cloudy",
                "HasPrecipitation": wet, "IsDaylight": True,
                "Temperature": {"Value": value, "Unit": unit,
                                "UnitType": 18 if unit == "F" else 17},
                "Wind": {"Speed": {"Value": wind, "Unit": "km/h"}},
                "PrecipitationProbability": 20})
        return recs

    def expected_rows(start):
        rows = []
        for i in range(12):
            local = start + dt.timedelta(hours=i)
            unit, value, wind, wet = hour_values(local)
            temp = (int((value - 32) * 5 / 9) if unit == "F" else int(value))
            utc = local - dt.timedelta(hours=1)
            rows.append({"utc": utc.strftime("%Y-%m-%d %H:%M:%S"),
                         "temperature": temp, "wind": int(wind),
                         "precipitation": wet})
        return rows

    def write_payload(name, start, seconds=True):
        path = os.path.join(pay_dir, name + ".json")
        with open(path, "w") as f:
            json.dump(payload(start, seconds), f, indent=1)
        return path

    # windows are one to three days apart (the seed draws the gaps), so a
    # window and its shifted copy never touch another window's hours;
    # the timed rounds take them in order
    windows = []
    starts = []
    cursor = SERVE_ANCHOR
    for k in range(WINDOWS):
        cursor += dt.timedelta(days=rng.randint(1, 3))
        starts.append(cursor)
    for k, start in enumerate(starts):
        fresh = write_payload(f"w{k:03d}", start)
        shifted = write_payload(f"w{k:03d}_shift", start + dt.timedelta(hours=6))
        windows.append([
            {"kind": "fresh", "payload": fresh, "expect": [12, 12]},
            {"kind": "replay", "payload": fresh, "expect": [0, 0]},
            {"kind": "overlap", "payload": shifted, "expect": [6, 6]}])
    rows = {}
    for start in starts:
        for r in expected_rows(start) + expected_rows(start + dt.timedelta(hours=6)):
            rows[r["utc"]] = r
    # the warm-up serves one fresh window of its own, before the timed ones
    warmup = [{"kind": "fresh", "expect": [12, 12], "payload": write_payload(
        "warm", dt.datetime(2023, 6, 1, 6, 0))}]
    secondsless = write_payload("secondsless", SECONDSLESS_START, seconds=False)

    mn, mx = min(counts), max(counts)
    noise_mae = NOISE_SD / (mx - mn) * math.sqrt(2 / math.pi)
    manifest = {
        "weather_csv": os.path.join(out, "weather.csv"),
        "traffic_csv": os.path.join(out, "traffic.csv"),
        "train_rows": TRAIN_ROWS,
        "joined_rows": joined,
        "weather_sentinels": n_sentinel,
        "weather_negative_t": n_negative,
        "noise_mae": noise_mae,
        "windows": windows,
        "warmup": warmup,
        "secondsless": {"kind": "secondsless", "payload": secondsless,
                        "expect": [12, 12]},
        "rows": rows,
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)


# ------------------------------------------------------------------- graph

CHAINS = 32
CHAIN_LEN = 32
RANDOM_NODES = 600
RANDOM_EDGES = 1800
GRAPHS = 8
KCORE_K = 3
KCORE_ITERS = 4   # synchronous peel rounds; graphs peel out within 3


def graph_edges(rng, chains, chain_len, random_nodes, random_edges):
    """CHAINS long chains (diameter chain_len-1) plus a preferential-
    attachment part whose early nodes become hubs; ids are a random
    permutation so no id order follows the chain order. A few
    duplicate, reversed and self-loop edges exercise canonicalization."""
    n = chains * chain_len + random_nodes
    ids = list(range(n))
    rng.shuffle(ids)
    edges = []
    for c in range(chains):
        base = c * chain_len
        for i in range(chain_len - 1):
            edges.append((ids[base + i], ids[base + i + 1]))
    off = chains * chain_len
    targets = [off, off + 1]
    edges.append((ids[off], ids[off + 1]))
    for j in range(2, random_nodes):
        for _ in range(3):
            t = rng.choice(targets)
            if t != off + j:
                edges.append((ids[off + j], ids[t]))
                targets.append(t)
        targets.append(off + j)
    extra = random_edges - (len(edges) - chains * (chain_len - 1))
    for _ in range(max(0, extra)):
        a = off + rng.randrange(random_nodes)
        b = rng.choice(targets)
        if a != b:
            edges.append((ids[a], ids[b]))
    for _ in range(20):
        a, b = rng.choice(edges)
        edges.append((b, a) if rng.random() < 0.5 else (a, b))
    for _ in range(3):
        v = ids[off + rng.randrange(random_nodes)]
        edges.append((v, v))
    rng.shuffle(edges)
    return edges


def peel_depth(edges, k):
    """Synchronous peel rounds that remove something before the k-core
    is reached."""
    e = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    rounds = 0
    while True:
        deg = {}
        for a, b in e:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        kept = {(a, b) for a, b in e if deg[a] >= k and deg[b] >= k}
        if len(kept) == len(e):
            return rounds
        e = kept
        rounds += 1


def gen_graph(seed, out):
    """GRAPHS graphs of one shape for the timed passes, and one small
    graph of the same make-up for the warm-up pass."""
    os.makedirs(out, exist_ok=True)

    def write(name, edges):
        p = os.path.join(out, name)
        with open(p, "w") as f:
            f.write("src,dst\n")
            f.write("".join(f"{a},{b}\n" for a, b in edges))
        return p

    def draw(sub, *shape):
        # redraw until the k-core peels out within KCORE_ITERS - 1
        # rounds, so every pass runs the same fixed peel to a fixpoint
        while True:
            edges = graph_edges(random.Random(sub), *shape)
            if peel_depth(edges, KCORE_K) < KCORE_ITERS:
                return edges
            sub += 7777777

    paths = [write(f"g{g:02d}.csv", draw(seed * 104729 + g, CHAINS, CHAIN_LEN,
                                         RANDOM_NODES, RANDOM_EDGES))
             for g in range(GRAPHS)]
    warm = write("warm.csv", draw(seed, 2, 8, 40, 120))
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({"graphs": paths, "warmup": warm, "kcore_k": KCORE_K,
                   "kcore_iters": KCORE_ITERS,
                   "dedup_dir": os.path.join(out, "dedup"),
                   "dedup_warm_dir": os.path.join(out, "dedup-warm")}, f)


# ------------------------------------------------------------------- dedup

# The shape of the repository's sf0.1 `documents` and `embeddings`
# tables, as measured on them: 5,000 documents of 10-99 words drawn
# uniformly from a 30-word vocabulary; 5 % of them replaced by a copy of
# another document with " dup" appended (so a few copies repeat each
# other exactly, and every original is contained in its copy); language
# en 41 %, zh/es/fr/de about 15 % each; sources src0-src19 in turn;
# 2,000 unit-length 64-dimensional Gaussian embeddings with labels 0-9.
DOCS = 5000
DUP_SHARE = 0.05
VECTORS = 2000
DIM = 64
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]


def gen_docs(seed, out, n_docs=DOCS, n_vectors=VECTORS):
    """The dedup slice's `documents`/`embeddings` pair; a smaller
    `n_docs`/`n_vectors` gives the warm-up corpus of the same make-up."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed * 15485863 + 3)
    os.makedirs(out, exist_ok=True)
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 99)))
             for _ in range(n_docs)]
    for i in rng.sample(range(n_docs), int(n_docs * DUP_SHARE)):
        j = rng.randrange(n_docs - 1)
        texts[i] = texts[j + (j >= i)] + " dup"
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choices(LANGS, LANG_WEIGHTS, k=n_docs), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    vecs = []
    for _ in range(n_vectors):
        v = [rng.gauss(0, 1) for _ in range(DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    emb = pa.table({
        "vec_id": pa.array(range(n_vectors), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n_vectors)],
                          pa.int32()),
    })
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))


GENERATORS = {
    "forecast_pipeline": gen_forecast,
    "graph_fixpoint": gen_graph,
    "corpus": gen_docs,
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    GENERATORS[a.workload](a.seed, a.out)


if __name__ == "__main__":
    main()
