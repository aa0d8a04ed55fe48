"""The benchmark's accounting: latencies from due times, percentiles,
output digests and per-layer self time. test_bench.py tests these."""
import datetime
import decimal
import hashlib
import json
import math
import os

# Nearest-rank percentiles the tail may report, highest last.
LADDER = (50, 75, 90, 95, 99, 99.9, 99.99)
LAYER_NAMES = ("operators", "engine", "functions", "sources", "ml",
               "streaming", "index")


def median(xs):
    if not xs:
        return 0.0
    s = sorted(xs)
    n = len(s)
    return float(s[n // 2]) if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def nearest_rank(xs, pct):
    """The nearest-rank percentile of a non-empty list."""
    s = sorted(xs)
    return float(s[max(1, math.ceil(pct / 100.0 * len(s))) - 1])


def tail(xs):
    """(percentile, value, samples): the highest percentile of LADDER that
    leaves at least 10 samples beyond it; the median when none does."""
    if not xs:
        return 50, 0.0, 0
    n = len(xs)
    pct = 50
    for p in LADDER:
        if n - math.ceil(p / 100.0 * n) >= 10:
            pct = p
    return pct, nearest_rank(xs, pct), n


def latencies(events):
    """Latency of each (due, done) event in ms. Counting from the due time,
    not from when the generator released the event, charges a generator
    stall to every event behind it."""
    return [done - due for due, done in events]


def lateness_max(releases):
    """How far the generator ran behind its schedule, in ms, from its
    (due, released) log."""
    return max([0.0] + [rel - due for due, rel in releases])


def canon(v):
    """The value rendering of tools/oracle_check.py: floats at 9
    significant digits, so both engines' digests compare values, not
    encodings."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}"
                              for k, x in sorted(v.items())) + "}"
    return str(v)


def table_digest(cols, rows):
    """sha256 over rows rendered with columns in name order, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def parquet_digest(path):
    """{rows, digest} of a Spark parquet output directory, or None."""
    import duckdb
    if not os.path.isdir(path) or not any(
            f.endswith(".parquet") for f in os.listdir(path)):
        return None
    res = duckdb.connect().execute(
        f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    return {"rows": len(rows), "digest": table_digest(cols, rows)}


def read_spans(path):
    with open(path) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def self_time(spans):
    """Seconds per layer that spans of that layer spent outside their
    children: a span's duration minus the part of it its child spans
    cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {name: 0.0 for name in LAYER_NAMES}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in children.get(s["id"], []))
        covered, end = 0, lo
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo - covered) / 1e9
    return out
