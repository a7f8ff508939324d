"""Input generators of the benchmark.

fixtures(dir)         the sf0.1 tables (TPC-H-like star schema, `events`,
                      `documents`, `embeddings`) with the schemas and value
                      domains of the project's test fixtures; fixed seed 42.
                      The SQL queries read the first eight, but the program
                      registers every table as a view before running SQL.
feed(seed)            the weather payloads one `etl_backfill` round drains,
                      the initial target, and everything the checker needs to
                      compute the right answer on its own.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _days(start, end):
    return (datetime.date(*end) - datetime.date(*start)).days


def _date_us(start, days):
    base = np.datetime64(datetime.date(*start), "us")
    return base + days.astype("timedelta64[D]")


def fixtures(out):
    """Writes the ten sf0.1 tables into `out` (row counts: 15 000 customers,
    1 000 suppliers, 20 000 parts, 150 000 orders, 600 000 line items,
    100 000 events, 5 000 documents, 2 000 embeddings)."""
    rng = np.random.default_rng(FIXTURE_SEED)
    os.makedirs(out, exist_ok=True)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = 15000
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = 1000
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)})
    n = 20000
    adj = np.array(["large", "hot", "cold", "blue", "old", "small", "new", "red"])
    noun = np.array(["ring", "gear", "widget", "gizmo", "bolt", "plate", "rod", "anvil"])
    keys = np.arange(n)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n), " "), rng.choice(noun, n)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": 900 + (keys % 1000) * 0.1})
    n = 150000
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15000, n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": pa.array(_date_us((1995, 1, 1), rng.integers(
            0, _days((1995, 1, 1), (2001, 8, 1)) + 1, n)), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    n = 600000
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, 150000, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(_date_us((1995, 1, 2), rng.integers(
            0, _days((1995, 1, 2), (2001, 11, 4)) + 1, n)), pa.timestamp("us"))})
    n = 100000
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1000000, n))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    t["documents"] = _documents(rng, 5000)
    t["embeddings"] = _embeddings(rng, 2000)
    for name, tab in t.items():
        pq.write_table(tab, os.path.join(out, f"{name}.parquet"))


WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch"]


def _documents(rng, n):
    """Word-soup documents; 5 % are near-duplicates of an earlier document
    (one word appended or dropped) and a few are exact copies."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 100 and r < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            words = src + ["dup"] if r < 0.025 else src[:-1]
            texts.append(" ".join(words))
        elif i > 100 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def _embeddings(rng, n, dim=64):
    """Unit vectors around ten weak label centroids."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0, 0.009, (10, dim))
    x = centroids[labels] + rng.normal(0, 0.125, (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# ---------------------------------------------------------------- weather feed

# Shape of one `etl_backfill` round.
#   cities  cities polled every tick
#   ticks   poll cycles (5 minutes apart) in the backlog one round drains
#   per     ticks per micro-batch (the source's maxTicksPerBatch)
#   base    rows of history in the target before the round starts
FEED = dict(cities=100, ticks=15, per=3, base=96000)
T0 = 1704067200          # 2024-01-01T00:00:00Z, first poll of every feed
POLL_S = 300
DESCRIPTIONS = ["clear sky", "few clouds", "scattered clouds", "broken clouds",
                "overcast clouds", "light rain", "moderate rain", "mist", "fog",
                "light snow", "drizzle", "thunderstorm"]

# The one operation of the benchmark that fails every time, kept on purpose:
# WeatherIngest.merge deduplicates a micro-batch with DISTINCT, so two polls
# of one (time, city) with different readings inside one micro-batch both
# land in the target. These cities are polled only in the two first ticks of
# the given micro-batch, at one observation time, first 7.3 then 9.9 degrees.
# They do not depend on the seed.
FAULTS = [("Rotterdam", 1), ("Leiden", 2)]
FAULT_DT, FAULT_TZ = 1704067200, 3600


def _payload(name, dt, tz, desc, temp, rng):
    return {
        "coord": {"lon": round(float(rng.uniform(-180, 180)), 4),
                  "lat": round(float(rng.uniform(-60, 70)), 4)},
        "weather": [{"id": 800 + i, "main": d.split()[-1].title(), "description": d,
                     "icon": "01d"} for i, d in enumerate(desc)],
        "base": "stations",
        "main": {"temp": temp, "feels_like": round(temp - 1.5, 2), "pressure": 1013,
                 "humidity": int(rng.integers(30, 100))},
        "visibility": 10000,
        "wind": {"speed": round(float(rng.uniform(0, 15)), 1), "deg": int(rng.integers(0, 360))},
        "dt": dt, "timezone": tz, "id": int(rng.integers(1, 10**7)), "name": name, "cod": 200}


def _city_names(rng, n, taken):
    syl = ["ber", "dam", "lei", "hof", "stad", "burg", "mond", "ven", "wijk", "zee",
           "brug", "veld", "horst", "kerk", "berg", "dorp", "heim", "haven", "rade", "lo"]
    names = []
    while len(names) < n:
        k = int(rng.integers(2, 4))
        s = "".join(rng.choice(syl, k)).capitalize()
        if s not in taken and s not in names:
            names.append(s)
    return names


def _ticks(rng, cities, ticks, per):
    """Payloads of `ticks` poll cycles over `cities`, as a list of ticks, each
    a list of (city, payload). Each city's observation time `dt` advances every
    10, 15 or 20 minutes, so consecutive polls often repeat a `dt`. A repeat
    carries a corrected reading with probability 0.3, but only where it opens
    a micro-batch: inside a micro-batch a repeat carries the same reading."""
    state = {}
    tz = {c: int(rng.choice(np.arange(-10, 13)) * 3600 + rng.choice([0, 1800])) for c in cities}
    step = {c: int(rng.choice([600, 900, 1200])) for c in cities}
    phase = {c: int(rng.integers(0, step[c] // 60)) * 60 for c in cities}
    out = []
    for k in range(ticks):
        now = T0 + POLL_S * k
        tick = []
        for c in cities:
            dt = (now - phase[c]) // step[c] * step[c] + phase[c]
            prev = state.get(c)
            if prev is None or prev[0] != dt:
                desc = list(rng.choice(DESCRIPTIONS, int(rng.integers(1, 3)), replace=False))
                temp = round(float(rng.normal(8, 7)), 2)
                state[c] = (dt, desc, temp)
            elif k % per == 0 and rng.random() < 0.3:
                state[c] = (dt, prev[1], round(prev[2] + float(rng.choice([-1, 1]) * rng.uniform(0.1, 2)), 2))
            dt, desc, temp = state[c]
            tick.append((c, _payload(c, dt, tz[c], desc, temp, rng)))
        out.append(tick)
    return out


def feed(seed):
    """One round's input: the payload ticks, the warm-up ticks, the initial
    target rows and the ticks per micro-batch. Deterministic in `seed`."""
    spec = FEED
    rng = np.random.default_rng(seed)
    taken = {f[0] for f in FAULTS}
    cities = _city_names(rng, spec["cities"], taken)
    ticks = _ticks(rng, cities, spec["ticks"], spec["per"])
    for name, batch in FAULTS:
        for j, temp in enumerate((7.3, 9.9)):
            ticks[batch * spec["per"] + j].append((name, _payload(
                name, FAULT_DT, FAULT_TZ, ["light rain", "mist"], temp, rng)))
    warm_cities = _city_names(rng, min(spec["cities"], 24), taken | set(cities))
    warm = _ticks(rng, warm_cities, max(2 * spec["per"], 6), spec["per"])
    base = []
    if spec["base"]:
        hours = spec["base"] // len(cities)
        times = T0 - 7 * 86400 - 3600 * (hours - np.repeat(np.arange(hours), len(cities)))
        descs = rng.choice(DESCRIPTIONS, len(times))
        temps = np.round(rng.normal(8, 7, len(times)), 2)
        base = list(zip(times.tolist(), cities * hours, descs.tolist(), temps.tolist()))
    return dict(ticks=ticks, warm=warm, base=base, per=spec["per"])


def write_feed(f, out):
    """Lays a feed out as the replay source reads it:
    <out>/feed/tick=<n>/<city>.json, <out>/warm/..., <out>/base.parquet and
    <out>/feed.conf."""
    for sub, ticks in (("feed", f["ticks"]), ("warm", f["warm"])):
        for k, tick in enumerate(ticks):
            d = os.path.join(out, sub, f"tick={k}")
            os.makedirs(d)
            for city, p in tick:
                with open(os.path.join(d, f"{city}.json"), "w") as fh:
                    json.dump(p, fh)
    conf = [f"ticks_per_batch={f['per']}"]
    if f["base"]:
        t, c, d, temp = zip(*f["base"])
        pq.write_table(pa.table({
            "time": pa.array(np.array(t, dtype="int64") * 1000000, pa.timestamp("us", tz="UTC")),
            "city_name": list(c), "weather_description": list(d), "temperature": list(temp)}),
            os.path.join(out, "base.parquet"))
        conf.append("base=base.parquet")
    with open(os.path.join(out, "feed.conf"), "w") as fh:
        fh.write("\n".join(conf) + "\n")


def expected_table(f):
    """The right end state of one round, computed from the payload list
    alone: the initial rows, then every payload in tick order, the later
    poll of a (local time, city) replacing the earlier one. Returns
    {(time_us, city): (description, temperature)} and, per key, the
    micro-batch that last wrote it."""
    table = {(t * 1000000, c): (d, temp) for t, c, d, temp in f["base"]}
    last = {}
    for k, tick in enumerate(f["ticks"]):
        for city, p in tick:
            key = ((p["dt"] + p["timezone"]) * 1000000, p["name"])
            table[key] = (", ".join(w["description"] for w in p["weather"]), p["main"]["temp"])
            last[key] = k // f["per"]
    return table, last
