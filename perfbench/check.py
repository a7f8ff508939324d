"""Checks of the program's outputs against answers computed apart from it.

- SQL queries: DuckDB runs `SparkEntry.oracleSql` over the same parquet
  tables; rows are compared under the canonical value rules of the project's
  oracle check (dev/check.py): columns by name, rows in order, floats by repr,
  decimals tagged, timestamps as naive UTC ISO text.
- ETL workloads: the last-writer-wins table computed from the generator's
  own payload list (gen.expected_table).

`python3 perfbench/run.py --selftest` feeds every checker one corrupted
answer and fails unless each of them reports it.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct

EPOCH = datetime.datetime(1970, 1, 1)


def decode(v):
    """A value as the JVM side encoded it (Json.value) -> Python object."""
    if isinstance(v, dict):
        if "d" in v:
            return struct.unpack("<d", struct.pack("<q", int(v["d"])))[0]
        if "dec" in v:
            return decimal.Decimal(v["dec"])
        if "ts" in v:
            return EPOCH + datetime.timedelta(microseconds=v["ts"])
        if "date" in v:
            return datetime.date(1970, 1, 1) + datetime.timedelta(days=v["date"])
        if "row" in v:
            return {k: decode(x) for k, x in v["row"].items()}
        raise ValueError(f"unknown encoding {v}")
    if isinstance(v, list):
        return [decode(x) for x in v]
    return v


def canon(v):
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return "DEC:" + str(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return sorted([str(k), canon(x)] for k, x in v.items())
    return v


def canonical(columns, rows):
    """(sorted column names, rows as canonical lists in those columns)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return ([columns[i] for i in order],
            json.loads(json.dumps([[canon(r[i]) for i in order] for r in rows])))


# ------------------------------------------------------------------ DuckDB

class Oracle:
    """DuckDB over the fixture tables. Answers are cached on disk, keyed by
    the fixtures' checksum and the SQL text (`run.py --rebuild-oracle` drops
    the cache)."""

    def __init__(self, fixtures, checksum, cache_dir):
        self.fixtures, self.checksum, self.cache_dir = fixtures, checksum, cache_dir
        self.con = None

    def _connect(self):
        import duckdb
        from gen import TABLES
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.fixtures, t + '.parquet')}')")
        return con

    def answer(self, sql):
        key = hashlib.sha256(f"{self.checksum}\0{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        if self.con is None:
            self.con = self._connect()
        rel = self.con.execute(sql)
        cols = [d[0] for d in rel.description]
        ans = canonical(cols, rel.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(ans, fh)
        os.replace(path + ".tmp", path)
        return ans


def compare(got, expected):
    """None when the canonical results agree, else the first difference."""
    gc, gr = got
    ec, er = expected
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return f"{len(gr)} rows != {len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        if a != b:
            return f"row {i}: {a} != {b}"
    return None


def spark_result(encoded):
    """(columns, decoded rows) of one query result the JVM side kept."""
    r = json.loads(encoded)
    return r["columns"], [decode(row) for row in r["rows"]]


# ------------------------------------------------------------------ ETL

def check_etl(final_rows, expected, last_writer, faults):
    """Compares the target after one round with the last-writer-wins table.

    Every key whose rows differ from the expected single row is charged to
    the micro-batch that last wrote it. Returns (failed batches, problems):
    a failed batch is one whose wrong keys are all fault keys holding
    exactly the two readings the fault batch carried (the known
    WeatherIngest.merge defect); anything else is a problem."""
    got = {}
    for r in final_rows:
        key = (r["time"]["ts"], r["city_name"])
        got.setdefault(key, []).append((r["weather_description"], decode(r["temperature"])))
    failed, problems = set(), []
    for key in sorted(set(got) | set(expected), key=repr):
        rows, want = sorted(got.get(key, [])), expected.get(key)
        if want is not None and rows == [want]:
            continue
        fault = faults.get(key[1])
        if fault is not None and key in last_writer and rows == sorted(fault["rows"]) \
                and last_writer[key] == fault["batch"]:
            failed.add(last_writer[key])
        else:
            problems.append(f"{key}: got {rows}, expected {want}")
    return failed, problems


def fault_rows(feed):
    """The (description, temperature) rows each fault city's batch carried."""
    from gen import FAULTS
    out = {}
    for name, batch in FAULTS:
        rows = {(", ".join(w["description"] for w in p["weather"]), p["main"]["temp"])
                for tick in feed["ticks"] for c, p in tick if c == name}
        if rows:
            out[name] = {"batch": batch, "rows": list(rows)}
    return out


# ------------------------------------------------------------------ self-test

def selftest():
    """Gives every checker one right and one corrupted answer."""
    import duckdb
    import gen
    bad = []

    def expect(name, ok, broken):
        if not ok:
            bad.append(f"{name}: rejects the right answer")
        if not broken:
            bad.append(f"{name}: accepts a corrupted answer")

    con = duckdb.connect()
    rel = con.execute("SELECT i AS a, (i * 0.5)::DOUBLE AS b, 'x' || i AS c, TIMESTAMP '2024-01-01' "
                      "+ i * INTERVAL 1 HOUR AS t FROM range(5) r(i) ORDER BY a")
    want = canonical([d[0] for d in rel.description], rel.fetchall())
    rows = [[i, {"d": str(struct.unpack("<q", struct.pack("<d", i * 0.5))[0])}, f"x{i}",
             {"ts": (1704067200 + 3600 * i) * 1000000}] for i in range(5)]
    right = json.dumps({"columns": ["a", "b", "c", "t"], "rows": rows})
    dropped = json.dumps({"columns": ["a", "b", "c", "t"], "rows": rows[:-1]})
    swapped = [list(r) for r in rows]
    swapped[1][1], swapped[2][1] = swapped[2][1], swapped[1][1]
    swapped = json.dumps({"columns": ["a", "b", "c", "t"], "rows": swapped})
    expect("sql: dropped row", compare(canonical(*spark_result(right)), want) is None,
           compare(canonical(*spark_result(dropped)), want) is not None)
    expect("sql: swapped value", True,
           compare(canonical(*spark_result(swapped)), want) is not None)

    feed = gen.feed(7)
    expected, last = gen.expected_table(feed)
    faults = fault_rows(feed)

    def table(entries):
        return [{"time": {"ts": k[0]}, "city_name": k[1], "weather_description": d,
                 "temperature": {"d": str(struct.unpack("<q", struct.pack("<d", t))[0])}}
                for k, (d, t) in entries]
    good = list(expected.items())
    for name, f in faults.items():
        key = next(k for k in expected if k[1] == name)
        good = [e for e in good if e[0] != key] + [(key, r) for r in f["rows"]]
    failed, problems = check_etl(table(good), expected, last, faults)
    ok = not problems and failed == {b for _, b in gen.FAULTS}
    f1, p1 = check_etl(table(good[1:]), expected, last, faults)
    k0, k1 = good[0][0], good[1][0]
    sw = [(k0, good[1][1]), (k1, good[0][1])] + good[2:]
    f2, p2 = check_etl(table(sw), expected, last, faults)
    expect("etl: dropped row", ok, bool(p1))
    expect("etl: swapped reading", ok, bool(p2))

    return bad
